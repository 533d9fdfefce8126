"""Refine stage: per-document map operators (SURVEY.md §2.B).

The reference's core capability is the Elasticsearch map-reduce "refine" loop
(scan docs → Python map fns → reduce → reindex) [public: upstream README];
here every map fn is a vectorized pandas UDF (BASELINE.json:15 — no per-row
Python) and the reduce is Catalyst's hash aggregate.

html text extraction (B1): no bs4/lxml offline, so a pinned vectorized
regex pipeline implementing the documented behavior of the ES `html_strip`
char filter *plus* head-removal (boilerplate): drop <head>…</head>,
<script>…</script>, <style>…</style>, comments, all tags; decode the basic
HTML entities; collapse whitespace. The synthetic pages generator
(engine/pages.py) emits html whose extraction equals the `text` column
byte-for-byte, making the BASELINE.json:15 invariant self-verifying.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_RE_HEAD = re.compile(r"(?is)<head\b.*?</head>")
_RE_SCRIPT = re.compile(r"(?is)<script\b.*?</script>")
_RE_STYLE = re.compile(r"(?is)<style\b.*?</style>")
_RE_COMMENT = re.compile(r"(?s)<!--.*?-->")
_RE_TAG = re.compile(r"<[^>]*>")

_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # last, so &amp;lt; → &lt; (single-pass semantics)
]


def extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized B1 over a pandas Series of utf-8 bytes."""
    s = html.map(lambda b: b.decode("utf-8", errors="replace") if b is not None else "")
    s = s.str.replace(_RE_HEAD, " ", regex=True)
    s = s.str.replace(_RE_SCRIPT, " ", regex=True)
    s = s.str.replace(_RE_STYLE, " ", regex=True)
    s = s.str.replace(_RE_COMMENT, " ", regex=True)
    s = s.str.replace(_RE_TAG, " ", regex=True)
    for ent, ch in _ENTITIES:
        s = s.str.replace(ent, ch, regex=False)
    # collapse all whitespace runs to single spaces, strip ends
    return s.str.split().str.join(" ")


@F.pandas_udf(T.StringType())
def html_strip_udf(html: pd.Series) -> pd.Series:
    return extract_text_series(html)


def dedup_latest(pages: DataFrame, key: str = "url", ts: str = "warc_ts") -> DataFrame:
    """B5: one row per url, newest warc_ts wins (ES reindex-by-_id upsert
    semantics for re-crawled pages [public])."""
    # content-hash tiebreak for equal-timestamp re-crawls: without it the
    # winner among (url, ts) ties is whichever row the shuffle delivers
    # first — nondeterministic across runs/replays (refine_pages pins the
    # same tie the same way via its sort on _h). Hash whichever content
    # column the frame carries (refined streams have dropped html).
    content = next(
        (c for c in ("html", "text") if c in pages.columns), key
    )
    w = Window.partitionBy(key).orderBy(
        F.col(ts).desc(), F.xxhash64(content).desc()
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# Fixed id-bucket count: doc_id = bucket_offset + rank-within-bucket must be a
# pure function of the INPUT DATA, never of session config.  Deriving the
# bucket count from spark.sql.shuffle.partitions made the same corpus get
# different ids under different configs (e.g. bench_scaling passes
# --shuffle-partitions cpus*2, so local[1] and local[4] builds disagreed).
# 1024 buckets keeps the offset map tiny (O(1KB) collect) while giving any
# realistic cluster enough id-groups to balance.
ID_BUCKETS = 1024


def assign_doc_ids(docs: DataFrame, order_col: str = "url", partitions: int | None = None) -> DataFrame:
    """B6: deterministic dense doc_id = global rank by `order_col`, stable
    across runs and parallelism (SURVEY.md §7 risk 3).

    Two-phase scheme instead of a global window: a single-partition
    `row_number() OVER (ORDER BY url)` would funnel the whole corpus — and
    every downstream stage that consumes its output — through ONE task, the
    exact serial bottleneck that kills N→4N scaling. Here:

      1. range-repartition on url + sort within partitions (parallel
         external sort; ranges are globally ordered);
      2. count rows per partition (tiny collect, one row per partition);
      3. doc_id = cumulative offset of the partition + local rank.

    The bucket is a PURE FUNCTION of the url (xxhash64 mod P) — never
    Spark's sampled range partitioner, whose boundaries can differ between
    the count job and the rank job and silently collide ids. doc_id =
    bucket_offset + rank-within-bucket(url): dense 0..N-1, deterministic for
    a given input set, balanced across buckets. Cost: one aggregation + one
    windowed shuffle + an O(P) collect; every stage stays parallel.

    The bucket count is the fixed ID_BUCKETS constant (NOT the session's
    shuffle-partition conf) so ids are invariant across configs/parallelism."""
    if partitions is None:
        partitions = ID_BUCKETS
    bucket = F.pmod(F.xxhash64(F.col(order_col)), F.lit(partitions)).cast("int")
    df = docs.withColumn("_b", bucket)
    counts = {
        r["_b"]: r["n"] for r in df.groupBy("_b").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    if not offsets:  # empty input — schema-stable empty result
        offsets = {0: 0}
    off_expr = F.create_map(*[F.lit(x) for b in offsets for x in (b, offsets[b])])
    w = Window.partitionBy("_b").orderBy(F.col(order_col))
    return df.withColumn(
        "doc_id",
        (off_expr[F.col("_b")] + F.row_number().over(w) - F.lit(1)).cast("long"),
    ).drop("_b")


def refine_pages(
    pages: DataFrame, lang: str | None = None, partitions: int | None = None
) -> DataFrame:
    """Full refine stage: dedup (latest crawl wins) → (optional) lang filter
    → deterministic dense doc_id → extract text.
    Output: docs(doc_id, url, warc_ts, lang, text).

    Semantics order matters: dedup FIRST, then the lang filter — matching ES
    reindex-by-_id upsert semantics and the streaming IncrementalIndexer. If
    a url's newest crawl is in a filtered-out language, the url is DROPPED
    (the older in-language crawl must not resurrect). The filter is applied
    to the per-url winner inside the same fused pass, so it costs nothing.

    ONE full-row shuffle total. The naive composition (window-dedup, then
    window-rank for ids) pushes every html byte through two more exchanges —
    at web scale the pipeline becomes shuffle-bandwidth-bound and stops
    scaling with cores. Here:

      1. hash-repartition by id-bucket `_b = xxhash64(url) mod ID_BUCKETS`
         (the only full-row exchange; deterministic, no sampling) + external
         sort within partitions on (_b, url asc, warc_ts desc, content-hash
         desc); a url's rows land in exactly one bucket, a bucket in exactly
         one partition, and buckets are contiguous within a partition;
      2. a pure-JVM counting aggregate over the PRE-shuffle frame (distinct
         urls per bucket, or max_by-winner lang counts under a lang filter)
         → offset map (O(ID_BUCKETS) collect). This is a separate action
         from the emit pass, so the input must be deterministic across
         actions — divergence is detected and raised, see dedup_rank;
      3. one streaming mapInPandas pass keeps the first (= latest, ties
         broken by content hash, byte-identical ties collapsed) row per url,
         applies the lang filter to the winner, and assigns
         doc_id = bucket_offset + dense rank within bucket.

    doc_ids are deterministic for a given input set AND invariant under
    session config / parallelism: bucketing uses the fixed ID_BUCKETS
    constant, never spark.sql.shuffle.partitions (physical partition count
    only affects task granularity, not bucket membership or order).

    The extracted text REPLACES the stored `text` column (the invariant says
    they are byte-identical; tests assert it on the full table)."""
    import numpy as np
    import pandas as pd

    spark = pages.sparkSession
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    df = pages.withColumn("_h", F.xxhash64("html")).withColumn(
        "_b", F.pmod(F.xxhash64("url"), F.lit(ID_BUCKETS)).cast("int")
    )
    part = df.repartition(partitions, F.col("_b")).sortWithinPartitions(
        F.col("_b").asc(),
        F.col("url").asc(),
        F.col("warc_ts").desc(),
        F.col("_h").desc(),
        F.col("lang").desc(),  # pins winner among exact (ts, hash) ties so
        # the JVM counting aggregate below always agrees with this sort
    )

    def _first_per_url(pdf: pd.DataFrame, last_url) -> pd.DataFrame:
        urls = pdf["url"].to_numpy()
        first = np.empty(len(urls), dtype=bool)
        first[0] = urls[0] != last_url
        first[1:] = urls[1:] != urls[:-1]
        kept = pdf.loc[first]
        if lang is not None:
            kept = kept[kept["lang"].to_numpy() == lang]
        return kept

    # Per-bucket survivor counts for the offset map, PURE JVM (no Arrow/
    # pandas pass): survivors = distinct urls per bucket; with a lang filter,
    # the winner row's lang is max_by over the SAME (warc_ts, _h, lang) key
    # the sorted dedup pass uses, so counts always agree with dedup_rank.
    # Two-phase hash agg with map-side partials — only (bucket, url) partial
    # rows shuffle, never html; replaces a former mapInPandas counting pass
    # that serialized every url through Arrow (~7 s of driver-visible latency
    # per build at 150k pages).
    if lang is None:
        kept_counts = df.groupBy("_b").agg(F.count_distinct("url").alias("n"))
    else:
        kept_counts = (
            df.groupBy("_b", "url")
            .agg(
                F.max_by(
                    "lang", F.struct(F.col("warc_ts"), F.col("_h"), F.col("lang"))
                ).alias("_wl")
            )
            .filter(F.col("_wl") == lang)
            .groupBy("_b")
            .agg(F.count("*").alias("n"))
        )
    counts = {r["_b"]: r["n"] for r in kept_counts.collect()}
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]

    def dedup_rank(batches):
        emitted: dict[int, int] = {}  # per-bucket rows already assigned
        last_url = None
        for pdf in batches:
            if not len(pdf):
                continue
            kept = _first_per_url(pdf, last_url)[["_b", "url", "warc_ts", "html", "lang"]].copy()
            last_url = pdf["url"].iloc[-1]
            if not len(kept):
                continue
            bvals = kept["_b"].to_numpy()
            try:
                base = np.fromiter(
                    (offsets[int(b)] + emitted.get(int(b), 0) for b in bvals),
                    dtype=np.int64,
                    count=len(bvals),
                )
            except KeyError as e:  # pragma: no cover - defensive
                raise RuntimeError(
                    "refine_pages: a kept row landed in an id-bucket the "
                    "counting pass never saw. The input DataFrame produced "
                    "different rows in the two passes — it must be "
                    "deterministic across actions (no bare limit()/sample(); "
                    "cache() such inputs first)."
                ) from e
            # within-bucket divergence check: emitting MORE rows in a bucket
            # than the counting pass saw would collide with the next
            # bucket's id range — fail loudly instead (same nondeterministic
            # -input class as the KeyError above, subtler symptom)
            for b, n in kept.groupby("_b").size().items():
                if emitted.get(int(b), 0) + int(n) > counts[int(b)]:
                    raise RuntimeError(
                        f"refine_pages: bucket {int(b)} emitted more rows "
                        f"than the counting pass saw ({counts[int(b)]}) — "
                        "nondeterministic input between actions; doc_ids "
                        "would collide. cache() the input first."
                    )
            kept["doc_id"] = base + kept.groupby("_b").cumcount().to_numpy(dtype=np.int64)
            for b, n in kept.groupby("_b").size().items():
                emitted[int(b)] = emitted.get(int(b), 0) + int(n)
            yield kept.drop(columns=["_b"])

    # html_strip stays a SEPARATE vectorized UDF on purpose: consumers that
    # never read `text` (counts, id-only joins) let Catalyst prune the
    # Python projection entirely, which a strip fused into the opaque
    # mapInPandas above would forbid.
    out_schema = "url string, warc_ts timestamp, html binary, lang string, doc_id long"
    docs = part.mapInPandas(dedup_rank, out_schema)
    return docs.withColumn("text", html_strip_udf(F.col("html"))).select(
        "doc_id", "url", "warc_ts", "lang", "text"
    )
