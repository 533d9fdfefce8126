"""Dedup family tests: exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine.dedup import (
    dedup_exact,
    embedding_near_dups,
    exact_duplicates,
    minhash_jaccard_estimate,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dups,
    with_shingles,
)
from engine.io import read_fixture


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    """documents + planted duplicates: exact copy, near copy, shuffled copy."""
    docs = read_fixture(spark, sf_dir, "documents").select("doc_id", "text").limit(100)
    rows = docs.collect()
    base = {r["doc_id"]: r["text"] for r in rows}
    planted = [
        (10_001, base[0]),                                  # exact dup of 0
        (10_002, base[1] + " extra token tail"),            # near dup of 1
        (10_003, "Case  VARIANT " + base[2].upper()),       # not a dup (uppercased)
        (10_004, base[3].replace(base[3].split()[0], "zzq", 1)),  # near dup of 3
    ]
    extra = spark.createDataFrame(planted, "doc_id long, text string")
    return docs.unionByName(extra)


def test_exact_duplicates(corpus):
    groups = exact_duplicates(corpus).collect()
    pairs = {tuple(g["doc_ids"]) for g in groups}
    assert (0, 10_001) in pairs
    kept = dedup_exact(corpus)
    assert kept.count() == corpus.count() - 1  # only the one exact dup removed
    assert kept.filter(F.col("doc_id") == 10_001).count() == 0


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    sh = {r["shingle"] for r in with_shingles(df, n=3).collect()}
    assert sh == {"a b c", "b c d"}


def test_ngram_jaccard_matches_python_oracle(corpus):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus, n=3, threshold=0.5).collect()
    }
    rows = {r["doc_id"]: r["text"] for r in corpus.collect()}

    def shingle_set(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))} or {t}

    want = {}
    for a, b in itertools.combinations(sorted(rows), 2):
        sa, sb = shingle_set(rows[a]), shingle_set(rows[b])
        inter = len(sa & sb)
        if inter == 0:
            continue
        j = inter / (len(sa) + len(sb) - inter)
        if round(j, 4) >= 0.5:
            want[(a, b)] = round(j, 4)
    assert got == want
    assert (1, 10_002) in got and (3, 10_004) in got and (0, 10_001) in got


def test_minhash_lsh_finds_planted_dups(corpus):
    cands = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(corpus, k=64, bands=16).collect()}
    assert (0, 10_001) in cands
    assert (1, 10_002) in cands
    assert (3, 10_004) in cands


def test_minhash_estimates_jaccard(corpus):
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_jaccard_estimate(corpus, k=64).collect()
    }
    assert est[(0, 10_001)] == 1.0
    # near-dups estimate within ±0.25 of truth (k=64 → σ≈0.06, loose bound)
    truth = {
        r["id_a"] * 100_000 + r["id_b"]: r["jaccard"]
        for r in ngram_jaccard_pairs(corpus, n=3, threshold=0.0).collect()
    }
    for (a, b), e in est.items():
        t = truth.get(a * 100_000 + b, 0.0)
        assert abs(e - t) <= 0.25, (a, b, e, t)


def test_simhash_near_dups(corpus):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dups(corpus, max_hamming=10).collect()}
    assert pairs.get((0, 10_001)) == 0  # identical text → identical signature
    assert (1, 10_002) in pairs  # near dup within hamming budget


def test_embedding_near_dups_and_oracle(spark, sf_dir):
    emb = read_fixture(spark, sf_dir, "embeddings").limit(120)
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dups(emb, threshold=0.5).collect()
    }
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    want = {}
    for a, b in itertools.combinations(sorted(vecs), 2):
        c = float(vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))
        if round(c, 4) >= 0.5:
            want[(a, b)] = round(c, 4)
    assert set(got) == set(want)
    for kpair, v in got.items():
        assert v == pytest.approx(want[kpair], abs=2e-4)


def test_embedding_near_dups_lsh_recall_and_precision(spark, sf_dir):
    """Scale-path LSH near-dup vs the brute-force oracle on planted twins.
    Precision must be exact (candidates are cosine-verified); recall on
    cosine≈0.99 pairs must be ≥0.9 with the contract parameters."""
    from pyspark.sql import functions as F

    from engine.dedup import embedding_near_dups_lsh

    emb = (
        read_fixture(spark, sf_dir, "embeddings")
        .limit(150)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    shifted = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.get("embedding", i) + F.lit(0.15) * F.get("embedding", (i + 1) % 64),
    )
    planted = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), shifted.alias("embedding"))
    both = emb.unionByName(planted)
    bf = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dups(both, threshold=0.9).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dups_lsh(
            both, threshold=0.9, dim=64, n_planes=12, n_bands=16
        ).collect()
    }
    assert set(got) <= set(bf)  # precision 1.0: every pair is a true near-dup
    assert len(got) >= 0.9 * len(bf)  # recall on ~0.99-cosine twins
    for kpair, v in got.items():
        assert v == bf[kpair]  # exact verified cosine, same rounding


def test_embedding_lsh_plan_has_no_unbucketed_self_join(spark, sf_dir):
    """The pair-producing join must be keyed on (band, bucket) — a cross/
    theta join over ids would be the 100 TB scale-killer this op replaces."""
    from pyspark.sql import functions as F

    from engine.dedup import embedding_near_dups_lsh

    emb = read_fixture(spark, sf_dir, "embeddings").limit(50).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    plan = embedding_near_dups_lsh(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A shingle shared by every doc must not materialize O(N^2) pairs: with
    max_df the ubiquitous shingle is dropped from intersections AND sizes."""
    n_docs = 60
    rows = [
        (i, f"common boiler plate unique{i} token{i} tail{i} word{i}")
        for i in range(n_docs)
    ]
    # every doc shares the 'common boiler plate' trigram; nothing else overlaps
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(df, n=3, threshold=0.01, max_df=None)
    capped = ngram_jaccard_pairs(df, n=3, threshold=0.01, max_df=10)
    assert uncapped.count() == n_docs * (n_docs - 1) // 2  # the quadratic bomb
    assert capped.count() == 0  # cap defuses it: no discriminative overlap left


def test_ngram_jaccard_cap_keeps_true_dups(spark):
    """Capping hot shingles must still find real near-duplicates."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup of 0
        (2, "one two three four five six seven eight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.5, max_df=10).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.5
    assert all(p == (0, 1) for p in pairs)


def test_connected_components_string_ids_chain(spark):
    """String-id pair graphs must converge fully (the fixpoint detector must
    not rely on sum() over the label column — sum(string) is NULL and would
    stop label propagation after one round on any chain longer than 2)."""
    from engine.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "id_a string, id_b string",
    )
    got = {
        (r["doc_id"], r["canonical_id"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("x", "x"), ("y", "x"),
    }, got


def test_connected_components_raises_when_unconverged(spark):
    """A 10-node chain needs ~9 label rounds: two rounds must raise rather
    than return split clusters; enough rounds give one cluster."""
    from engine.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(pairs, max_iter=2)
    assert {r["canonical_id"] for r in connected_components(pairs).collect()} == {0}


def test_simhash_banding_guarantees_recall(spark, corpus):
    """Pigeonhole banding must be sized to max_hamming: every pair within
    the threshold appears, verified against the brute-force O(n^2) oracle
    (the old fixed 4x16-bit split silently missed hamming 4..8 pairs whose
    differing bits hit all four chunks)."""
    import itertools

    from engine.dedup import simhash_near_dups, simhash_udf

    sigs = {
        r["doc_id"]: r["sig"]
        for r in corpus.select(
            "doc_id", simhash_udf(F.col("text")).alias("sig")
        ).collect()
    }
    for mh in (4, 6):
        want = set()
        for a, b in itertools.combinations(sorted(sigs), 2):
            if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= mh:
                want.add((a, b))
        got = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_dups(corpus, max_hamming=mh).collect()
        }
        assert got == want, (mh, got ^ want)


def test_minhash_vectorized_batch_matches_per_doc_reference(spark):
    """The whole-batch vectorized minhash UDF (factorize + global rolling
    hash + reduceat, added in the r6 optimization) must be bit-identical to
    the per-doc reference form (_shingle_hashes + affine-min mod Mersenne),
    including the edge cases that take different code paths: empty text,
    < n tokens, exactly n tokens, and adjacent docs whose boundary windows
    must never mix."""
    from engine.dedup import (
        _MERSENNE,
        _minhash_params,
        _shingle_hashes,
        _token_hash_cache,
        minhash_signatures,
    )

    k, n = 64, 3
    texts = [
        "",                                   # empty → zeros(1) shingle
        "one",                                # 1 token (< n)
        "two tokens",                         # 2 tokens (< n)
        "exactly three tokens",               # == n → single window
        "alpha beta gamma delta epsilon",     # > n, plain
        "alpha beta gamma delta epsilon",     # exact dup of previous
        "delta epsilon zeta eta theta iota",  # shares boundary tokens with prev
        ("tok " * 500).strip(),               # long, heavy token repetition
    ]
    # one partition → one Arrow batch, so adjacent docs share a batch and
    # the boundary-window case is really exercised
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    got = {
        r["id"]: list(r["mh"])
        for r in minhash_signatures(df, k=k, n=n).collect()
    }

    a, b = _minhash_params(k)
    th = _token_hash_cache()
    for i, t in enumerate(texts):
        sh = _shingle_hashes(t, n, th)
        with np.errstate(over="ignore"):
            vals = (sh[None, :] * a[:, None] + b[:, None]) % _MERSENNE
        want = vals.min(axis=1).astype(np.int64).tolist()
        assert got[i] == want, (i, t[:30], got[i][:4], want[:4])
