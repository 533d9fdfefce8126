"""Similarity-search tests: brute-force correctness, LSH, IVF and PQ recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine.ann import brute_force_topk, lsh_topk, with_lsh_bucket
from engine.io import read_fixture

DIM = 64


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_fixture(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def vecs(emb):
    return {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}


def _numpy_topk(vecs, q, k):
    qn = q / np.linalg.norm(q)
    sims = {
        i: round(float(v @ qn / np.linalg.norm(v)), 4) for i, v in vecs.items()
    }
    return sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_brute_force_matches_numpy(emb, vecs):
    q = vecs[7]
    got = brute_force_topk(emb, q.tolist(), k=10).collect()
    want = _numpy_topk(vecs, q, 10)
    assert [(r["vec_id"], r["cosine"]) for r in got] == want
    assert got[0]["vec_id"] == 7 and got[0]["cosine"] == 1.0


def test_lsh_recall_against_brute_force(emb, vecs):
    bucketed = with_lsh_bucket(emb, DIM, n_planes=8).cache()
    recalls = []
    for qid in [0, 50, 123, 321, 444]:
        q = vecs[qid].tolist()
        exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
        approx = {r["vec_id"] for r in lsh_topk(bucketed, q, k=10, n_planes=8, n_flip=2).collect()}
        recalls.append(len(exact & approx) / 10)
    assert np.mean(recalls) >= 0.5, recalls  # multiprobe LSH on random 64-d data


def test_lsh_scans_fewer_rows(emb, vecs):
    bucketed = with_lsh_bucket(emb, DIM, n_planes=8).cache()
    total = emb.count()
    q = vecs[0]
    planes_scanned = lsh_topk(bucketed, q.tolist(), k=10, n_planes=8, n_flip=1)
    # the pruned candidate set must be well under the full table
    from engine.ann import _hyperplanes, _norm, _probe_buckets

    planes = _hyperplanes(DIM, 8)
    qn = _norm(q.tolist())
    sig = sum((1 << j) for j in range(8) if float(planes[j] @ qn) > 0)
    probes = _probe_buckets(sig, 8, 1)
    n_cand = bucketed.filter(F.col("lsh_bucket").isin(probes)).count()
    assert n_cand < total * 0.5
    assert planes_scanned.count() <= 10


def test_ivf_recall_against_brute_force(spark, emb, vecs):
    from engine.ann import assign_clusters, ivf_topk, train_centroids

    cast = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    cents = train_centroids(cast, n_clusters=8)
    assigned = assign_clusters(cast, cents).cache()
    # every vector lands in exactly one cluster
    assert assigned.count() == len(vecs)
    hits = 0
    total = 0
    for qid in list(vecs)[:5]:
        q = vecs[qid].tolist()
        want = {i for i, _ in _numpy_topk(vecs, np.asarray(q), 10)}
        got = {r["vec_id"] for r in ivf_topk(assigned, cents, q, k=10, nprobe=4).collect()}
        hits += len(want & got)
        total += len(want)
    assert hits / total >= 0.6, f"IVF recall {hits}/{total}"


def test_ivf_scans_fewer_rows(spark, emb, vecs):
    from engine.ann import assign_clusters, ivf_topk, train_centroids

    cast = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    cents = train_centroids(cast, n_clusters=8)
    assigned = assign_clusters(cast, cents)
    q = vecs[0].tolist()
    probed = ivf_topk(assigned, cents, q, k=10, nprobe=2)
    # the nprobe filter must restrict the candidate set well below the corpus
    n_candidates = assigned.filter(F.col("ivf_cluster").isin(
        [int(j) for j in np.argsort(-(cents @ (np.asarray(q)/np.linalg.norm(q))))[:2]]
    )).count()
    assert n_candidates < len(vecs)
    assert probed.count() == 10


# --- product quantization (round 3) ------------------------------------------


def test_pq_codes_shape_and_determinism(spark, emb):
    from engine.ann import encode_pq, train_pq_codebooks

    cast = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    b1 = train_pq_codebooks(cast, dim=64, m=16, ks=16, iters=3)
    b2 = train_pq_codebooks(cast, dim=64, m=16, ks=16, iters=3)
    assert b1.shape == (16, 16, 4)
    assert np.array_equal(b1, b2)  # fully deterministic training
    codes = encode_pq(cast, b1).select("vec_id", "pq_code").collect()
    assert all(len(r.pq_code) == 16 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r.pq_code)


def test_pq_adc_matches_numpy_table_lookup(spark, emb, vecs):
    from engine.ann import encode_pq, pq_topk, train_pq_codebooks

    cast = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    books = train_pq_codebooks(cast, dim=64, m=16, ks=16, iters=3)
    coded = encode_pq(cast, books)
    q = vecs[0].astype(np.float64)
    got = {r.vec_id: r.adc_score for r in pq_topk(coded, books, q.tolist(), k=500).collect()}

    # independent numpy replay
    qn = q / np.linalg.norm(q)
    tab = np.array([books[mi] @ qn[mi * 4 : (mi + 1) * 4] for mi in range(16)])
    rows = coded.select("vec_id", "pq_code").collect()
    for r in rows:
        want = round(float(sum(tab[mi][c] for mi, c in enumerate(r.pq_code))), 4)
        assert got[r.vec_id] == pytest.approx(want, abs=1e-4)


def test_pq_refined_matches_brute_force_here(spark, emb, vecs):
    from engine.ann import brute_force_topk, encode_pq, pq_refined_topk, train_pq_codebooks

    cast = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    books = train_pq_codebooks(cast, dim=64, m=16, ks=16, iters=3)
    coded = encode_pq(cast, books).cache()
    hits = 0
    for qi in (0, 7, 42):
        q = vecs[qi].astype(np.float64).tolist()
        got = [tuple(r) for r in pq_refined_topk(coded, books, q, k=10, rerank=50).collect()]
        bf = [tuple(r) for r in brute_force_topk(cast, q, k=10).collect()]
        hits += len({g[0] for g in got} & {b[0] for b in bf})
    assert hits >= 27  # >=0.9 recall@10 across the three probes at this scale
