"""Deterministic stratified sampling + domain remixing (LLM-data-pipeline
ops): downsample per stratum (language/source/quality band) with a pure
content-derived hash so the sample is reproducible across runs, partitions,
and cluster sizes — never `rand()` [public: fixed-seed hash sampling as in
CCNet / RedPajama / Dolma pipeline descriptions].

keep(doc) = h(doc) mod denom < rate[stratum], where h is a deterministic
hash of the doc key. Default h = xxhash64 (JVM-side, well-mixed). The
contract queries pin the SQL-portable Knuth multiplicative variant
(portable_hash_expr) so DuckDB reproduces the exact sample; a production run
keeps xxhash64. Either way the filter is pure codegen over the scan —
shuffle-free, trivially scale-safe.

remix_to_target computes the per-stratum rates that move the corpus to a
target mix while keeping the most data: the stratum with the least headroom
relative to its target stays at 100% and everything else scales down
proportionally (classic waterfilling; no stratum is ever upsampled).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Knuth multiplicative constant; doc_id folded to 2^26 first so the product
# stays far below 2^63 (Spark 4 ANSI mode raises on long overflow):
# (2^26)·2654435761 ≈ 1.8e17 « 2^63. The fold is the hash's collision
# horizon — ids 2^26 apart share a key — so it is deliberately the largest
# power of two the overflow bound allows.
_KNUTH = 2654435761
_FOLD = 1 << 26
_MOD = 1 << 32


def portable_hash_expr(id_col: str = "doc_id") -> Column:
    """Deterministic hash expressible in ANSI SQL (same literal arithmetic
    runs in DuckDB): ((id % 2^26) * 2654435761 + 12345) % 2^32."""
    return (
        (F.col(id_col) % F.lit(_FOLD)) * F.lit(_KNUTH) + F.lit(12345)
    ) % F.lit(_MOD)


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    rates: dict[str, int],
    denom: int = 100,
    hash_expr: Column | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep each stratum at rates[stratum]/denom (missing strata keep 0).
    Pure filter over the scan; deterministic for a given input set."""
    if hash_expr is None:
        hash_expr = F.pmod(F.xxhash64(F.col(id_col)), F.lit(_MOD))
    rate = F.create_map(
        *[F.lit(x) for s, r in sorted(rates.items()) for x in (s, r)]
    )[F.col(strata_col)]
    return docs.filter((hash_expr % denom) < F.coalesce(rate, F.lit(0)))


def remix_rates(
    counts: dict[str, int], targets: dict[str, float], denom: int = 100
) -> dict[str, int]:
    """Waterfilling rates (integer per-denom) that move `counts` toward the
    `targets` mix without upsampling: scale = min_s(share_s / target_s);
    rate_s = floor(denom · target_s · scale / share_s + ε) — the binding
    stratum lands at denom (keep everything), the rest shed proportionally.
    Floor-with-epsilon (not round) so the arithmetic is reproducible in
    portable SQL: the contract oracle runs the identical expression."""
    total = sum(counts.values())
    if total == 0:
        return {s: 0 for s in targets}
    shares = {s: counts.get(s, 0) / total for s in targets}
    ratios = [
        shares[s] / t for s, t in targets.items() if t > 0 and shares[s] > 0
    ]
    if not ratios:  # no target stratum present in the corpus → keep nothing
        return {s: 0 for s in targets}
    scale = min(ratios)
    out = {}
    for s, t in targets.items():
        if shares.get(s, 0) <= 0 or t <= 0:
            out[s] = 0
        else:
            out[s] = min(denom, math.floor(denom * t * scale / shares[s] + 1e-9))
    return out


def remix_to_target(
    docs: DataFrame,
    strata_col: str,
    targets: dict[str, float],
    denom: int = 100,
    hash_expr: Column | None = None,
    id_col: str = "doc_id",
) -> tuple[DataFrame, dict[str, int]]:
    """Resample toward the target mix: one tiny count aggregate (rows =
    |strata|) to derive rates, then the stratified filter. Returns
    (sampled frame, the rates used)."""
    counts = {
        r[strata_col]: r["n"]
        for r in docs.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
    }
    rates = remix_rates(counts, targets, denom)
    return (
        stratified_sample(docs, strata_col, rates, denom, hash_expr, id_col),
        rates,
    )


def training_shuffle(
    docs: DataFrame,
    key_col: str = "doc_id",
    n_shards: int | None = None,
) -> DataFrame:
    """Deterministic global shuffle for training-example order (LLM-data-
    pipeline op) [public: fixed-seed shuffling in GPT/T5/Dolma pipeline
    descriptions]: every document gets a content-derived `shuffle_key`
    (the same portable multiplicative hash the sampler pins, so the order
    is reproducible across runs, partitions, and cluster sizes — never
    rand()). Passing `n_shards` also assigns a shard from the hash's HIGH
    bits — `shard = floor(shuffle_key · n_shards / 2^32)` — because
    multiplicative hashing mixes high bits, not low ones (`key mod n`
    degenerates to round-robin over sequential ids). Shard-then-sort-within
    layout: at scale the writer range-partitions on (shard, shuffle_key)
    and sorts within partitions — a total order WITHOUT any
    single-partition window; readers stream shards independently."""
    key = portable_hash_expr(key_col)
    out = docs.withColumn("shuffle_key", key)
    if n_shards is not None:
        out = out.withColumn(
            "shard",
            ((F.col("shuffle_key") * n_shards) / F.lit(_MOD))
            .cast("long").cast("int"),
        )
    return out


def temperature_rates(
    counts: dict[str, int],
    alpha: float,
    target_total: int,
    denom: int = 1000,
) -> dict[str, int]:
    """Temperature-based domain mixing rates [public: multinomial sampling
    with exponent α over domain sizes, as described for GPT-3 / mC4 / XLM-R
    data mixing]: sampling weight w_s ∝ n_s^α (α<1 flattens the domain
    distribution, upweighting small domains), expected kept docs per domain
    k_s = target_total · w_s, keep rate = min(1, k_s / n_s). Integer
    floor-with-epsilon per-denom rates, same reproducible-in-SQL arithmetic
    as remix_rates (no upsampling: rates cap at denom)."""
    # a NULL stratum keeps 0 (consistent with "missing strata keep 0" in
    # stratified_sample) and must not poison the deterministic sort order —
    # dropped BEFORE the early return so the returned dict never carries a
    # None key; it is also excluded from sum_pow (the oracle mirrors this
    # with WHERE <stratum> IS NOT NULL)
    counts = {s: n for s, n in counts.items() if s is not None}
    if not counts or target_total <= 0:
        return {s: 0 for s in counts}
    sum_pow = sum(n**alpha for s, n in sorted(counts.items()) if n > 0)
    out = {}
    for s, n in counts.items():
        if n <= 0 or sum_pow <= 0:
            out[s] = 0
        else:
            keep = min(1.0, target_total * (n**alpha) / sum_pow / n)
            out[s] = min(denom, math.floor(denom * keep + 1e-9))
    return out


def temperature_sample(
    docs: DataFrame,
    strata_col: str,
    alpha: float,
    target_total: int,
    denom: int = 1000,
    hash_expr: Column | None = None,
    id_col: str = "doc_id",
) -> tuple[DataFrame, dict[str, int]]:
    """Temperature-mix resample: one tiny count aggregate (|strata| rows) →
    temperature_rates → the same pure-codegen stratified hash filter.
    Returns (sampled frame, rates used)."""
    counts = {
        r[strata_col]: r["n"]
        for r in docs.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
    }
    rates = temperature_rates(counts, alpha, target_total, denom)
    return (
        stratified_sample(docs, strata_col, rates, denom, hash_expr, id_col),
        rates,
    )
