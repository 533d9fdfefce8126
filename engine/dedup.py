"""Deduplication family for training-data pipelines (task brief):

* exact dedup — hash-groupBy on a normalized-content fingerprint (built-ins);
* n-gram Jaccard — exact shingle-overlap similarity via self-join (built-ins,
  DuckDB-checkable); the quadratic-safe form joins on shared shingles only;
* MinHash + LSH — shingle → k minhashes → b bands → bucket-join candidates
  (Broder 1997; Leskovec/Rajaraman/Ullman MMDS ch.3 [public]); scales as a
  band-bucket shuffle instead of an all-pairs product;
* SimHash — 64-bit hyperplane sketch of token multiset, near-dups differ in
  few bits (Charikar 2002 [public]);
* embedding-cosine near-dup — LSH-bucketed or threshold self-join on the
  embeddings table.

Everything runs as DataFrame ops; the only Python is inside vectorized
pandas UDFs (minhash/simhash sketches, NumPy per batch).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- exact dedup -------------------------------------------------------------


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-equal (after whitespace/case normalization) documents:
    (fingerprint, n_docs, keep_id=min id, dup_ids)."""
    from .textops import with_fingerprint

    fp = with_fingerprint(df, text_col)
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct normalized content."""
    from .textops import with_fingerprint

    fp = with_fingerprint(df, text_col)
    w_min = F.min(id_col).over
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint")
    return (
        fp.withColumn("_keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_keep", "fingerprint")
    )


# --- shingles ----------------------------------------------------------------


def with_shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """(id, shingle) rows: distinct word n-grams — built-ins only
    (split + index-slide via transform over a sequence).

    hashed=True replaces the shingle string with xxhash64(shingle) BEFORE
    the distinct, so the dedup exchange and every downstream join move an
    8-byte key instead of an ~n-word string (64-bit birthday tolerance,
    as in span_dedup/MinHash)."""
    toks = F.split(F.col(text_col), " ")
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    out = df.select(F.col(id_col).alias("id"), F.explode(sh).alias("shingle")).filter(
        F.length("shingle") > 0
    )
    if hashed:
        out = out.select("id", F.xxhash64("shingle").alias("shingle"))
    return out.distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 256,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥1 shingle:
    J = |A∩B| / (|A|+|B|-|A∩B|). The shingle self-join only materializes
    co-occurring pairs (never the full cross product).

    max_df caps hot shingles: the self-join multiplies df² per shingle, so a
    boilerplate trigram shared by 1M docs would materialize 10¹² pairs. Any
    shingle with df > max_df is dropped from BOTH the intersection and the
    per-doc sizes (standard practice — ubiquitous shingles carry no
    discriminative signal), bounding the join output at |shingles|·max_df².
    The hot-shingle list is tiny by construction and broadcast. Pass
    max_df=None to disable (exact textbook Jaccard, small corpora only).

    The pair-producing self-join runs on xxhash64(shingle) — an 8-byte key
    instead of an ~n-word string, which shrinks the two join exchanges and
    their sort keys by an order of magnitude. A 64-bit birthday collision
    would count one spurious shared shingle for one pair — the same
    tolerance the span-dedup and MinHash paths already accept (and the
    threshold filter makes a single phantom intersection inconsequential).

    Pair generation uses PREFIX FILTERING [public: Bayardo et al. 2007
    "Scaling Up All Pairs Similarity Search"; Xiao et al. PPJoin]: under any
    globally consistent shingle order (ascending hash here), two sets with
    J >= t MUST share a shingle among each one's first
    |A| - ceil(t*|A|) + 1 shingles, so only PREFIX rows enter the
    pair-producing self-join — at t=0.8 that is ~20% of the rows and
    ~4% of the naive join's output. Survivor pairs (plus the implied
    |B| >= t*|A| length filter) are then verified EXACTLY per pair with
    array_intersect over the per-doc shingle arrays — identical
    (id_a, id_b, jaccard) output to the naive all-shared-shingles join, at
    a fraction of the shuffled volume. The naive join is quadratic in
    per-shingle df and cannot survive web scale; this is its standard exact
    replacement."""
    sh = with_shingles(df, n, text_col, id_col, hashed=True)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    arrs = (
        sh.groupBy("id")
        .agg(F.array_sort(F.collect_list("shingle")).alias("arr"))
        .select("id", "arr", F.size("arr").alias("n_sh"))
        .cache()
    )
    t = float(threshold)
    plen = (F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(t)) + F.lit(1)).cast("int")
    prefix = arrs.select(
        "id", "n_sh", F.explode(F.slice("arr", 1, plen)).alias("shingle")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            # J >= t implies t*|A| <= |B| <= |A|/t — prune before distinct
            & (F.col("b.n_sh") * F.lit(t) <= F.col("a.n_sh"))
            & (F.col("a.n_sh") * F.lit(t) <= F.col("b.n_sh")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    av = arrs.select(F.col("id").alias("id_a"), F.col("arr").alias("arr_a"),
                     F.col("n_sh").alias("sh_a"))
    bv = arrs.select(F.col("id").alias("id_b"), F.col("arr").alias("arr_b"),
                     F.col("n_sh").alias("sh_b"))
    n_inter = F.size(F.array_intersect("arr_a", "arr_b"))
    return (
        cand.join(av, "id_a")
        .join(bv, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                n_inter / (F.col("sh_a") + F.col("sh_b") - n_inter), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- MinHash + LSH -----------------------------------------------------------

_MERSENNE = np.uint64((1 << 61) - 1)


def _minhash_params(k: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, (1 << 61) - 1, size=k, dtype=np.uint64)
    b = rng.integers(0, (1 << 61) - 1, size=k, dtype=np.uint64)
    return a, b


def _token_hash_cache() -> dict:
    """Per-batch memo: token → stable 64-bit hash (blake2b, C-speed).
    Natural-language batches repeat tokens heavily, so the cache turns the
    hashing cost from O(total bytes) into O(unique-token bytes)."""
    import hashlib

    cache: dict[str, int] = {}

    def h(tok: str) -> int:
        v = cache.get(tok)
        if v is None:
            v = int.from_bytes(
                hashlib.blake2b(tok.encode("utf-8"), digest_size=8).digest(), "little"
            )
            cache[tok] = v
        return v

    return h


_ROLL = np.uint64(1099511628211)  # FNV prime as the polynomial base


def _shingle_hashes(text: str, n: int, th) -> np.ndarray:
    """Hashes of word n-grams: polynomial combination of per-token hashes,
    fully vectorized (wraparound mod 2^64 is intentional)."""
    toks = text.split()
    if not toks:
        return np.zeros(1, dtype=np.uint64)
    hs = np.fromiter((th(t) for t in toks), dtype=np.uint64, count=len(toks))
    if len(toks) <= n:
        out = np.zeros(1, dtype=np.uint64)
        for j in range(len(toks)):
            out = out * _ROLL + hs[j]
        return out
    with np.errstate(over="ignore"):
        acc = hs[: len(hs) - n + 1].copy()
        for j in range(1, n):
            acc *= _ROLL
            acc += hs[j : len(hs) - n + 1 + j]
    return acc


def minhash_udf(k: int = 64, n: int = 3):
    """Returns a pandas UDF: text → array<long> of k minhash values.

    Whole-batch vectorization (bit-identical to the per-doc reference form
    `_shingle_hashes` + affine-min): tokens of the entire Arrow batch are
    factorized once (each UNIQUE token blake2b-hashed once, then a C-level
    take), the n-gram rolling hash runs over the single concatenated token
    array (windows spanning doc boundaries are simply never indexed), and
    the k affine min-hashes reduce per doc via np.minimum.reduceat — no
    per-document Python beyond short-doc (< n tokens) stragglers."""
    a, b = _minhash_params(k)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def mh(s: pd.Series) -> pd.Series:
        th = _token_hash_cache()
        tok_lists = [(t or "").split() for t in s]
        lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64,
                           count=len(tok_lists))
        if len(tok_lists) == 0:
            return pd.Series([], dtype=object)
        all_toks: list[str] = []
        for t in tok_lists:
            all_toks.extend(t)
        if all_toks:
            codes, uniques = pd.factorize(np.asarray(all_toks, dtype=object))
            lut = np.fromiter((th(u) for u in uniques), dtype=np.uint64,
                              count=len(uniques))
            hs_all = lut[codes]
        else:
            hs_all = np.zeros(0, dtype=np.uint64)
        offs = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        # global rolling hash: acc[g] = poly of hs_all[g : g+n]; only
        # in-document windows are gathered below
        with np.errstate(over="ignore"):
            if len(hs_all) >= n:
                acc_all = hs_all[: len(hs_all) - n + 1].copy()
                for j in range(1, n):
                    acc_all *= _ROLL
                    acc_all += hs_all[j : len(hs_all) - n + 1 + j]
            else:
                acc_all = np.zeros(0, dtype=np.uint64)
        # per-doc shingle arrays: long docs slice the global window array;
        # short docs (< n tokens, incl. empty) replay the reference loop
        sh_parts: list[np.ndarray] = []
        starts = np.zeros(len(lens), dtype=np.int64)
        pos = 0
        with np.errstate(over="ignore"):
            for i, ln in enumerate(lens):
                o = offs[i]
                if ln > n:
                    sh = acc_all[o : o + ln - n + 1]
                elif ln == n:
                    sh = acc_all[o : o + 1]
                else:
                    out = np.zeros(1, dtype=np.uint64)
                    for j in range(ln):
                        out = out * _ROLL + hs_all[o + j]
                    sh = out
                starts[i] = pos
                pos += len(sh)
                sh_parts.append(sh)
            sh_cat = np.concatenate(sh_parts) if sh_parts else np.zeros(1, np.uint64)
            # Affine transform + segment-min per doc, looped over the k hash
            # functions with two reused S-sized buffers instead of one
            # (k × S) matrix: the matrix form materialized ~8 B × k × S
            # (hundreds of MB per Arrow batch) and was memory-bandwidth
            # bound (~230 µs/doc measured); the S-vectors stay cache
            # resident. The Mersenne reduction uses the shift-add identity
            # (2^61 ≡ 1 mod M ⇒ x mod M = (x >> 61) + (x & M), one
            # conditional subtract) — bit-identical to `% _MERSENNE` for
            # every uint64 x, including the intended mod-2^64 wrap of the
            # multiply-add.
            S = len(sh_cat)
            mins = np.empty((len(lens), len(a)), dtype=np.uint64)
            v = np.empty(S, dtype=np.uint64)
            hi = np.empty(S, dtype=np.uint64)
            sixty_one = np.uint64(61)
            for i in range(len(a)):
                np.multiply(sh_cat, a[i], out=v)
                v += b[i]
                np.right_shift(v, sixty_one, out=hi)
                v &= _MERSENNE
                v += hi
                v[v >= _MERSENNE] -= _MERSENNE
                mins[:, i] = np.minimum.reduceat(v, starts)
        sigs = mins.astype(np.int64)
        return pd.Series(list(sigs))

    return mh


def minhash_signatures(
    df: DataFrame, k: int = 64, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, mh array<long>[k]) — one Arrow-batched UDF pass over the corpus."""
    return df.select(F.col(id_col).alias("id"), minhash_udf(k, n)(F.col(text_col)).alias("mh"))


def minhash_lsh_candidates(
    df: DataFrame,
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: split k minhashes into `bands` rows-per-band
    groups; docs sharing any band bucket are candidates. One shuffle on
    (band, bucket_hash) — never an all-pairs join."""
    rows_per_band = k // bands
    mh = signatures if signatures is not None else minhash_signatures(df, k, n, text_col, id_col)
    banded = mh.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.hash(F.slice("mh", bnd * rows_per_band + 1, rows_per_band)),
            )
        ).alias("band", "bucket"),
    )
    # ONE hash-aggregate exchange of the banded stream, then in-group pair
    # expansion — the x⋈y self-join form shuffled the identical banded
    # frame TWICE (two AQE-materialized exchanges of the same subplan) for
    # the same output. Per-bucket work is O(m²) in bucket size either way
    # (that is the LSH collision contract); sort_array pins id_a < id_b.
    grp = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set("id")).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    return (
        grp.select(F.posexplode("_ids").alias("_i", "id_a"), F.col("_ids"))
        .select("id_a", F.explode(F.slice("_ids", F.col("_i") + 2, F.size("_ids"))).alias("id_b"))
        .distinct()
    )


def minhash_jaccard_estimate(
    df: DataFrame, k: int = 64, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Candidate pairs with estimated Jaccard = fraction of agreeing
    minhashes (verification stage after LSH). The signature table is computed
    once and cached — the sketch UDF is the expensive pass."""
    mh = minhash_signatures(df, k, n, text_col, id_col).cache()
    cands = minhash_lsh_candidates(df, k=k, n=n, text_col=text_col, id_col=id_col, signatures=mh)
    # Attach both signatures with ONE streamed pass over mh: candidate pairs
    # are corpus-rare (the LSH premise), so the pair list melts to long form
    # and broadcasts; mh is never shuffled or sorted (the previous plain
    # joins planned two SortMergeJoin exchanges of the k-long signature
    # arrays), and the single broadcast build evaluates the banded-aggregate
    # subtree exactly once — no eager barrier needed.
    melted = cands.select(
        "id_a", "id_b", F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id")
    )
    att = mh.join(F.broadcast(melted), "id")
    return (
        att.groupBy("id_a", "id_b")
        .agg(
            F.max(F.when(F.col("id") == F.col("id_a"), F.col("mh"))).alias("mh_a"),
            F.max(F.when(F.col("id") == F.col("id_b"), F.col("mh"))).alias("mh_b"),
        )
        .withColumn(
            "est_jaccard",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with("mh_a", "mh_b", lambda p, q: (p == q).cast("int")),
                        lambda v: v == 1,
                    )
                )
                / F.lit(float(k)),
                4,
            ),
        )
        .select("id_a", "id_b", "est_jaccard")
    )


# --- SimHash -----------------------------------------------------------------


@F.pandas_udf(T.LongType())
def simhash_udf(s: pd.Series) -> pd.Series:
    """64-bit SimHash over token multiset (Charikar). Vectorized: token FNV
    hashes → ±1 bit votes → sign."""

    th = _token_hash_cache()

    def one(text: str) -> int:
        toks = (text or "").split()
        if not toks:
            return 0
        hs = np.fromiter((th(t) for t in toks), dtype=np.uint64, count=len(toks))
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
            np.int64
        )
        votes = (2 * bits - 1).sum(axis=0)
        sig = int.from_bytes(np.packbits(votes > 0, bitorder="little").tobytes(), "little")
        return sig & 0x7FFFFFFFFFFFFFFF

    return s.map(one)


def simhash_near_dups(
    df: DataFrame, max_hamming: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance. Pigeonhole banding sized
    to the threshold: the 64-bit signature splits into max_hamming+1 chunks,
    so ANY pair within max_hamming differing bits shares at least one intact
    chunk and becomes a join candidate — banding is guaranteed-recall, never
    a silent cliff. (A fixed 4×16-bit split only guarantees hamming ≤ 3;
    pairs at 4-8 with bits spread across all chunks were silently missed.)
    Candidates are then verified with exact bit_count. More chunks = smaller
    chunk width = fuller buckets, so the candidate join grows with the
    threshold — the standard pigeonhole/recall trade [public: multi-index
    hashing, Norouzi et al. 2012]."""
    n_chunks = min(64, max_hamming + 1)
    # chunk bit-boundaries: split 64 bits into n_chunks near-equal widths
    bounds = [round(i * 64 / n_chunks) for i in range(n_chunks + 1)]
    sh = df.select(F.col(id_col).alias("id"), simhash_udf(F.col(text_col)).alias("sig"))
    chunk_cols = [
        F.shiftright("sig", bounds[i]).bitwiseAND(
            F.lit((1 << (bounds[i + 1] - bounds[i])) - 1)
        )
        for i in range(n_chunks)
    ]
    chunked = sh.select(
        "id",
        "sig",
        F.posexplode(F.array(*chunk_cols)).alias("chunk_idx", "chunk"),
    )
    x = chunked.alias("x")
    y = chunked.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.chunk_idx") == F.col("y.chunk_idx"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            # exact-hamming verification BEFORE the distinct: bit_count is a
            # codegen'd per-row op, so the dedup exchange then carries only
            # true near-dup pairs instead of every banding candidate
            F.bit_count(F.col("x.sig").bitwiseXOR(F.col("y.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs.select("id_a", "id_b", "hamming")


# --- embedding-cosine near-dup -------------------------------------------------


def cosine_expr(a, b):
    """Cosine similarity of two array<float> columns — pure built-ins
    (zip_with product + aggregate sums), JVM-side."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def embedding_near_dups(
    emb: DataFrame, threshold: float = 0.9, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Pairs with cosine ≥ threshold. Brute-force all-pairs self-join — the
    EXACT small-scale oracle only (pytest recall baseline). Never register
    this as a contract query: O(N²) rows is a scale-killer. The scale path is
    embedding_near_dups_lsh below."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_expr(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _band_signature_udf(dim: int, n_planes: int, n_bands: int, seed: int = 29):
    """Pandas UDF: embedding → array<int> of n_bands hyperplane sign-bucket
    ids (band b uses its own n_planes random hyperplanes). One Arrow pass
    computes every band's signature via a single (n, bands*planes) matmul."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bands * n_planes, dim))
    weights = (1 << np.arange(n_planes, dtype=np.int64)).reshape(1, n_planes)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def sig(s: pd.Series) -> pd.Series:
        mat = np.stack(s.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        bits = (mat @ planes.T) > 0  # (n, bands*planes)
        bits = bits.reshape(len(mat), n_bands, n_planes)
        buckets = (bits * weights).sum(axis=2).astype(np.int32)  # (n, bands)
        return pd.Series(list(buckets))

    return sig


def embedding_near_dups_lsh(
    emb: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 12,
    n_bands: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 29,
) -> DataFrame:
    """Scale path for embedding near-dup: multi-band random-hyperplane LSH
    (SimHash for angles — Charikar 2002 [public]) candidates + exact cosine
    verification. The plan contains NO unbucketed self-join:

      1. one Arrow UDF pass → n_bands bucket ids per vector;
      2. posexplode → (band, bucket) rows; self-join on equality of
         (band, bucket) with id_a < id_b — the only pair-producing shuffle,
         keyed by bucket, never the cross product;
      3. distinct candidates re-join the embedding table (shuffle on id) and
         the exact cosine filter keeps true near-dups (precision = 1.0).

    Recall: a pair at angle θ collides in one band with p=(1-θ/π)^n_planes
    and is a candidate if ANY band collides: 1-(1-p)^n_bands. At the 0.9
    default (θ≈25.8°) the 12×16 default gives ~93% recall, rising steeply
    above the threshold; property-tested vs the brute-force oracle. At larger
    N, grow n_planes (bucket count 2^n_planes) to keep buckets small and add
    bands to restore recall — both scale the shuffle linearly, never
    quadratically."""
    # slim banded frame: (id, band, bucket) only — vectors rejoin later so the
    # pair-producing shuffle never moves the embedding payload
    banded = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(_band_signature_udf(dim, n_planes, n_bands, seed)(F.col(vec_col))).alias(
            "band", "bucket"
        ),
    )
    x = banded.alias("x")
    y = banded.alias("y")
    cands = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", F.round(cosine_expr(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# --- near-dup clusters → canonical doc (connected components) ---------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Canonicalize near-duplicate PAIRS into clusters: (doc_id,
    canonical_id) where canonical_id = min doc_id reachable through the pair
    graph — the "keep one representative per duplicate cluster" step every
    training-data dedup pipeline ends with.

    Min-label propagation [public: Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond"; the hash-min variant]: labels start
    as own ids; each round every node takes the min of its own and its
    neighbors' labels. Rounds needed = graph diameter — near-dup clusters
    are dense and tiny (diameter ~2-3), so this converges in a handful of
    shuffle joins even at web scale; convergence is detected by the (sum of
    labels) fixpoint, one cheap agg per round. The edge table is cached once
    and reused every round. No fixpoint within `max_iter` rounds raises:
    unconverged labels would split clusters silently."""
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # plus a self-loop per node, so each round reads the previous labels
    # ONCE (own label and neighbours' in one join): reading them twice
    # doubled the plan tree every round, and a 10-round chain ran the
    # driver out of heap printing it
    edges = (
        sym.unionByName(sym.select("a", F.col("a").alias("b")))
        .distinct()
        .cache()
    )
    labels = edges.select("a").distinct().withColumn("lbl", F.col("a")).cache()
    # fixpoint detector: sum of xxhash64(lbl), not sum(lbl) — works for ANY
    # id type (sum over string labels is NULL, and NULL == NULL would break
    # the loop after one round, splitting clusters)
    _lblsum = F.sum(F.xxhash64("lbl").cast("decimal(38,0)"))  # no int64 overflow under ANSI
    prev_sum = labels.agg(_lblsum).collect()[0][0]
    for _ in range(max_iter):
        new = (
            edges.join(labels.select(F.col("a").alias("b"), "lbl"), "b")
            .groupBy("a")
            .agg(F.min("lbl").alias("lbl"))
            .cache()
        )
        cur_sum = new.agg(_lblsum).collect()[0][0]
        labels.unpersist()
        labels = new
        if cur_sum == prev_sum:  # labels monotone non-increasing → fixpoint
            break
        prev_sum = cur_sum
    else:
        labels.unpersist()
        edges.unpersist()
        raise RuntimeError(
            f"connected_components: labels did not converge in {max_iter} rounds"
        )
    edges.unpersist()
    return labels.select(
        F.col("a").alias("doc_id"), F.col("lbl").alias("canonical_id")
    ).orderBy("doc_id")
