"""Text-analysis operators for large-scale training-data pipelines.

First-class components beyond the reference's own surface (task brief):
language-ID, quality scoring, token counting, document fingerprinting —
each over the `documents`/`pages` corpora. SQL-expressible metrics stay as
built-in expressions (whole-stage codegen + DuckDB-checkable); the n-gram
language classifier is a vectorized pandas UDF.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- language-ID: character-n-gram + stopword heuristic ---------------------
# Profiles are tiny pinned sets of highly characteristic function words and
# bigrams per language (public linguistic facts; no external data).

_LANG_PROFILES: dict[str, set[str]] = {
    "en": {"the", "and", "of", "to", "in", "is", "that", "for", "with", "was"},
    "fr": {"le", "la", "les", "de", "des", "et", "est", "une", "que", "dans"},
    "es": {"el", "la", "los", "de", "y", "es", "que", "en", "una", "por"},
    "de": {"der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"},
    "zh": set(),  # handled by CJK-ratio below
}

_CJK_RE = re.compile(r"[㐀-䶿一-鿿]")
_WORD_RE = re.compile(r"[a-zà-öø-ÿ]+")


def language_id(text: str) -> str:
    """Classify one document: CJK-char ratio → zh; else argmax stopword hits
    (ties → 'und' unknown, like CLD-style abstain)."""
    if not text:
        return "und"
    n_cjk = len(_CJK_RE.findall(text))
    if n_cjk * 4 >= len(text.replace(" ", "")) and n_cjk > 0:
        return "zh"
    words = _WORD_RE.findall(text.lower())
    if not words:
        return "und"
    scores = {
        lang: sum(1 for w in words if w in prof)
        for lang, prof in _LANG_PROFILES.items()
        if prof
    }
    best = max(scores, key=lambda k: (scores[k], k))
    if scores[best] == 0:
        return "und"
    top = [k for k, v in scores.items() if v == scores[best]]
    return best if len(top) == 1 else "und"


@F.pandas_udf(T.StringType())
def language_id_udf(s: pd.Series) -> pd.Series:
    return s.map(language_id)


# --- quality scoring (SQL expressions — no UDF) ------------------------------

_EN_STOPWORDS = sorted(_LANG_PROFILES["en"])


def with_quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach per-doc quality signals: length, token count, mean token length,
    punctuation ratio, stopword ratio, alpha ratio — all built-ins."""
    c = F.col(text_col)
    toks = F.split(c, " ")
    n_toks = F.size(toks)
    stop_arr = F.array(*[F.lit(w) for w in _EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    n_alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    return (
        df.withColumn("n_chars_q", F.length(c))
        .withColumn("n_tokens", n_toks)
        .withColumn(
            "mean_token_len",
            F.round((F.length(c) - (n_toks - 1)) / n_toks, 4),
        )
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(F.length(c), F.lit(1)), 4))
        .withColumn("stopword_ratio", F.round(n_stop / F.greatest(n_toks, F.lit(1)), 4))
        .withColumn("alpha_ratio", F.round(n_alpha / F.greatest(F.length(c), F.lit(1)), 4))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0-1 quality score (Gopher/C4-style heuristic band checks):
    rewards 20-1000 tokens, ~3-12 char mean token length, some stopwords."""
    m = with_quality_metrics(df, text_col)
    in_band = (
        (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 1000)
    ).cast("int") + (
        (F.col("mean_token_len") >= 2.5) & (F.col("mean_token_len") <= 12.0)
    ).cast("int") + (F.col("stopword_ratio") >= 0.01).cast("int") + (
        F.col("alpha_ratio") >= 0.6
    ).cast("int")
    return m.withColumn("quality_score", F.round(in_band / F.lit(4.0), 4))


# --- token counting (whitespace + BPE-ish subword estimate) ------------------

_BPE_RE = r"[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]"


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """whitespace_tokens: split count; bpe_est_tokens: count of BPE-ish
    chunks (≤4-char alpha runs, ≤3-digit runs, single punct) — a deterministic
    regex stand-in for a real BPE vocab (containers lack tokenizer libs)."""
    c = F.col(text_col)
    return df.withColumn("ws_tokens", F.size(F.split(c, r"\s+"))).withColumn(
        "bpe_est_tokens",
        F.size(F.regexp_extract_all(c, F.lit(_BPE_RE), 0)),
    )


# --- document fingerprinting --------------------------------------------------


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-dup fingerprint: md5 of NFC-whitespace-normalized text (md5 is
    available in both Spark and DuckDB → oracle-checkable)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(norm))


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data PII scrub [public practice: C4/Dolma-style pipeline
    cleaning]: redact email addresses and phone-like digit groups, reporting
    per-doc redaction counts. Built-in regexp_replace/regexp_extract_all only
    (JVM regex, codegen) — a pure scan transform with no shuffle; at 100 TB
    this is the cheapest kind of full-corpus pass.

    Patterns are deliberately RE2-compatible (no backrefs/lookaround) so the
    DuckDB oracle runs the identical expressions."""
    c = F.col(text_col)
    email = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone = r"\d{3}-\d{4}"
    n_email = F.size(F.regexp_extract_all(c, F.lit(email), F.lit(0)))
    n_phone = F.size(F.regexp_extract_all(c, F.lit(phone), F.lit(0)))
    clean = F.regexp_replace(F.regexp_replace(c, email, "<EMAIL>"), phone, "<PHONE>")
    return docs.select(
        "doc_id",
        (n_email + n_phone).cast("bigint").alias("n_redacted"),
        clean.alias("clean_text"),
    ).filter(F.col("n_redacted") > 0)


def repetition_score(docs: DataFrame, text_col: str = "text", min_tokens: int = 10) -> DataFrame:
    """Gopher-style repetition signal [public: Rae et al. 2021, "Scaling
    Language Models" quality heuristics]: fraction of word trigrams that are
    duplicates of an earlier trigram in the same document. High values flag
    boilerplate/spam for training-data filtering.

    Pure array expressions (split → transform over an index sequence →
    array_distinct), evaluated per row inside codegen — no explode, no
    shuffle, no UDF; the token arrays never leave the row."""
    t = F.split(F.col(text_col), " ")
    n = F.size(t)
    tri = F.expr(
        f"transform(sequence(0, size(split({text_col}, ' ')) - 3), "
        f"i -> concat(split({text_col}, ' ')[i], ' ', split({text_col}, ' ')[i+1], "
        f"' ', split({text_col}, ' ')[i+2]))"
    )
    n_tri = (n - 2).cast("bigint")
    dup_frac = F.round(
        F.lit(1.0) - F.size(F.array_distinct(tri)).cast("double") / n_tri, 4
    )
    return (
        docs.filter(n >= min_tokens)
        .select("doc_id", n_tri.alias("n_trigrams"), dup_frac.alias("dup_trigram_frac"))
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    line_tokens: int = 3,
    min_df: int = 5,
) -> DataFrame:
    """Corpus-level line deduplication (LLM-data-pipeline op) [public: CCNet
    paragraph-hash dedup, Wenzek et al. 2020; RefinedWeb/FineWeb line-level
    boilerplate removal]: drop every "line" whose document frequency across
    the corpus reaches `min_df` — repeated navigation/footer/boilerplate
    text — and reassemble each document from its surviving lines in order.

    The driver fixtures carry no newlines, so a "line" is pinned as a
    NON-OVERLAPPING window of `line_tokens` consecutive tokens (remainder
    window kept) — the operator under test is the corpus-frequency dedup
    shape, not the line splitter; a real web corpus swaps the chunker for
    split('\\n').

    Scale design: explode docs to (doc_id, line_no, line) → one hash
    aggregate for per-line document frequency (map-side combining) → the hot
    set (df ≥ min_df) is TINY by construction (only text repeated across
    ≥ min_df docs) so it broadcasts into an anti-join → one hash aggregate
    reassembles survivors. At 100 TB: two shuffles (line df, doc reassembly),
    both combinable; lines would hash to int64 first (xxhash64) to shrink
    the exchanges — strings kept here for oracle parity."""
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(line_tokens)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * line_tokens + 1, line_tokens), " "
        ),
    )
    exploded = docs.select(
        "doc_id", F.posexplode(lines).alias("line_no", "line")
    )
    hot = (
        exploded.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("line")
    )
    kept = exploded.join(F.broadcast(hot), "line", "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("kept_text"),
        F.count("*").cast("bigint").alias("n_kept"),
    )
    totals = docs.select("doc_id", n_chunks.cast("bigint").alias("n_lines"))
    return (
        totals.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
        )
    )


def corpus_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Dataset-card summary (LLM-data-pipeline op) [public: datasheets /
    dataset-card reporting practice, Gebru et al. 2021; Dolma/FineWeb corpus
    reports]: per (lang, source) stratum — document count, total/mean token
    count, mean characters, and the share of corpus tokens the stratum
    holds. ONE pass: a single hash aggregate with map-side combine plus a
    broadcast of the one-row grand total; at 100 TB this is the cheapest
    query in the pipeline (two numbers per input split per stratum)."""
    toks = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    per = docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
        F.round(F.avg(toks), 4).alias("mean_tokens"),
        F.round(F.avg(F.length(F.col(text_col))), 4).alias("mean_chars"),
    )
    total = per.agg(F.sum("n_tokens").alias("_t"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "lang", "source", "n_docs", "n_tokens", "mean_tokens", "mean_chars",
            F.round(F.col("n_tokens") / F.col("_t"), 4).alias("token_share"),
        )
        .orderBy("lang", "source")
    )


def unigram_perplexity(
    tf: DataFrame,
    term_stats: DataFrame,
    total_tokens: float,
) -> DataFrame:
    """Per-document unigram language-model perplexity [public: CCNet uses
    KenLM 5-gram perplexity for quality bucketing; the unigram LM is the
    honest dependency-free core]: the LM is the corpus itself (p(t) =
    cf(t) / total_tokens), doc score = exp(−Σ tf·ln p / Σ tf). Low ppl =
    repetitive/common-word text, high ppl = rare-token soup — both tails
    are filter candidates. Scale shape: ONE equi-join of the (doc,term) tf
    frame with the term dictionary on its natural key + one map-side-
    combining hash agg per doc; at web scale both sides are term-partitioned
    so AQE plans a shuffle-free or single-exchange join. Returns
    (doc_id, ppl)."""
    joined = tf.join(term_stats.select("term", "cf"), "term")
    return (
        joined.groupBy("doc_id")
        .agg(
            (
                -F.sum(F.col("tf") * F.log(F.col("cf") / F.lit(total_tokens)))
                / F.sum("tf")
            ).alias("_nll")
        )
        .select("doc_id", F.round(F.exp("_nll"), 4).alias("ppl"))
    )


def chunk_windows(
    docs: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking for retrieval pipelines (RAG
    ingestion) [public: fixed-size token windows with overlap, as in
    LangChain/LlamaIndex splitters and the DPR 100-word passage scheme]:
    each doc yields windows of `chunk_size` tokens starting every
    `chunk_size - overlap` tokens (start positions 0, stride, 2·stride, …
    while start < max(n_tokens − overlap, 1); the last window may be
    short). Pure per-row expressions — split, sequence, slice, one
    posexplode — so chunking never shuffles; emitted chunks flow straight
    into the embedding/indexing stage with (doc_id, chunk_id) lineage."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(stride)
    )
    chunks = F.transform(
        starts, lambda s: F.slice(toks, s + 1, chunk_size)
    )
    return (
        docs.select(F.col(id_col), F.posexplode(chunks).alias("chunk_id", "_c"))
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size("_c").cast("long").alias("n_tokens"),
            F.concat_ws(" ", "_c").alias("chunk_text"),
        )
    )


# per-worker memo of token → 64-bit hash (natural language repeats tokens
# heavily; hash each DISTINCT token once per worker, same trick as
# dedup._token_hash_cache)
_span_token_hashes: dict[str, int] = {}


def _make_span_hash_udf(k: int):
    """Vectorized k-token shingle hasher: array<string> toks → array<long>
    of one 64-bit hash per window start (empty when len(toks) < k).

    Whole-batch NumPy: flatten the batch's token arrays, factorize so each
    distinct token is hashed once (blake2b-8, worker-memoized), then combine
    every k-window of token hashes with a fixed odd-multiplier polynomial —
    a (N, k) sliding-window matvec in uint64 (wraparound arithmetic is the
    mod-2^64 ring; the odd multiplier is a bijection, so per-position
    entropy is preserved). Windows never cross document boundaries by
    construction of the per-doc offsets."""
    import hashlib

    _B = 0x9E3779B97F4A7C15
    pows = np.array(
        [pow(_B, i, 1 << 64) for i in range(k)], dtype=np.uint64
    )  # mod-2^64 powers precomputed in Python ints (no numpy overflow warns)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def span_hashes(s: pd.Series) -> pd.Series:
        memo = _span_token_hashes
        toks_list = s.tolist()
        n_rows = len(toks_list)
        if n_rows == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(t) for t in toks_list), np.int64, count=n_rows)
        total = int(lens.sum())
        empty = np.empty(0, dtype=np.int64)
        if total == 0:
            return pd.Series([empty] * n_rows)
        flat = np.concatenate([np.asarray(t, dtype=object) for t in toks_list])
        codes, uniq = pd.factorize(flat)
        uh = np.empty(len(uniq), dtype=np.uint64)
        for i, u in enumerate(uniq):
            h = memo.get(u)
            if h is None:
                h = int.from_bytes(
                    hashlib.blake2b(u.encode(), digest_size=8).digest(), "little"
                )
                memo[u] = h
            uh[i] = h
        th = uh[codes]
        if total >= k:
            with np.errstate(over="ignore"):  # uint64 wraparound IS the ring
                win = np.lib.stride_tricks.sliding_window_view(th, k)
                H = (win * pows[None, :]).sum(axis=1, dtype=np.uint64).view(np.int64)
        else:
            H = empty
        offs = np.zeros(n_rows, dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        out = [
            H[offs[i]: offs[i] + lens[i] - k + 1] if lens[i] >= k else empty
            for i in range(n_rows)
        ]
        return pd.Series(out)

    return span_hashes


def span_dedup(
    docs: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level (cross-document repeated-span) deduplication
    [public: Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — ExactSubstr]: every occurrence of a k-token span that
    appears anywhere else in the corpus is removed EXCEPT the globally
    first occurrence (order = (doc_id, position)); overlapping duplicate
    spans merge naturally because removal is per covered token. Finer
    granularity than doc-level (dedup.py) or line-level
    (remove_boilerplate_lines): it catches long quotations, templated
    paragraphs and partial crawls that neither catches.

    Spark shape — the shuffle-sorted shingle variant of the paper's suffix
    array (a suffix array is a sequential build; grouping shingle hashes
    distributes): per doc, the k-token shingle at every start offset is
    hashed JVM-side (transform over the token array — no UDF, no extra
    shuffle); ONE hash-aggregate exchange on the shingle hash finds
    duplicated hashes; their occurrences are recovered with a broadcast
    join against a re-derived shingle stream and ranked by a window that
    now only sees duplicate rows (duplicated hashes are corpus-rare, so
    both the broadcast side and the window input are tiny — at true 100 TB
    dup densities swap the broadcast for a shuffle join or bloom
    pre-filter, the shape is otherwise unchanged). Covered positions
    fold to one small array per affected doc; reassembly is then a pure
    per-row array filter — the token stream is never exploded and never
    shuffled. 64-bit shingle hashes keep the one big exchange at ~16 B/row;
    rare birthday collisions cost only a spuriously removed span (the
    paper's method has the same tolerance).

    Returns one row per input doc: (id_col, text [deduped], n_kept,
    n_removed). Docs shorter than k tokens pass through unchanged; a doc
    whose every token is covered (an exact duplicate of an earlier doc)
    comes back with empty text and n_kept = 0."""
    from pyspark import StorageLevel

    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # base is scanned twice (shingle hashing, then reassembly) — persist the
    # split token arrays so the source scan + split run once. Materialized
    # by hashed.count() below (sequential, no AQE race on this cache).
    starts = F.sequence(F.lit(0), F.col("_n") - F.lit(k))
    # Shingle hashing is the CPU-heavy pass (O(k) slice+hash per position);
    # compute it ONCE into a compact persisted frame of longs (~8 B/token —
    # an order of magnitude smaller than the corpus, disk-spillable at
    # scale) so the duplicate-count aggregate and the dup-occurrence join
    # both explode cheap long arrays instead of re-slicing token strings.
    # xxhash64 over the slice ARRAY (not a concat_ws string) skips the
    # per-shingle string allocation; tokens are split on ' ' so array
    # equality == joined-string equality.
    # Shingle hashing is one vectorized Arrow pass (_make_span_hash_udf):
    # per-distinct-token 64-bit hashes + a whole-batch polynomial window
    # combine in NumPy. The previous JVM form — transform(starts,
    # i -> xxhash64(slice(...))) — is an interpreted higher-order expression
    # tree costing ~13 µs/position (~35 core-s for 2.7 M positions at
    # sf1.0); the batch matvec is ~2 orders cheaper. Hash identity is free
    # to differ: dup GROUPS depend only on hash equality of token windows,
    # the oracle twin is exact string-based, and 64-bit birthday tolerance
    # is the same.
    hashed = (
        base.filter(F.col("_n") >= k)
        .select(
            id_col,
            _make_span_hash_udf(k)(F.col("_toks")).alias("_hs"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Materialize the persisted hash frame NOW: the dup-count aggregate and
    # the dup-occurrence join sides are AQE stages that materialize
    # concurrently — with a lazy persist both race to fill it and the O(k)-
    # per-position shingle hashing runs twice in parallel (measured: 2x
    # ~0.9 s jobs at sf1.0). One eager count = one hashing pass.
    hashed.count()
    sh = hashed.select(id_col, F.posexplode("_hs").alias("pos", "sh"))
    # duplicated hashes via a count-only hash aggregate (primitive key and
    # payload → HashAggregate, never SortAggregate) — replaces a row_number
    # window (full exchange + SORT of EVERY shingle); the rank-the-first-
    # occurrence window then runs only over occurrences of duplicated
    # hashes, which are corpus-rare
    dup_hashes = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("sh")
    )
    w = Window.partitionBy("sh").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    dup = (
        sh.join(F.broadcast(dup_hashes), "sh")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") >= 2)
        .select(id_col, "pos")
    )
    # per-doc sorted array of covered token positions (dup-only → tiny)
    removed = dup.groupBy(id_col).agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(F.sequence("pos", F.col("pos") + F.lit(k - 1)))
            )
        ).alias("_rm")
    )
    # reassembly is per-row: filter the token array by position — no token
    # explode, no anti-join, no collect_list shuffle of the whole corpus
    kept_toks = F.when(F.col("_rm").isNull(), F.col("_toks")).otherwise(
        F.filter("_toks", lambda t, i: ~F.array_contains("_rm", i))
    )
    return (
        base.join(F.broadcast(removed), id_col, "left")
        .select(
            F.col(id_col),
            F.col("_n"),
            kept_toks.alias("_kept"),
        )
        .select(
            id_col,
            F.concat_ws(" ", "_kept").alias(text_col),
            F.size("_kept").cast("bigint").alias("n_kept"),
            (F.col("_n") - F.size("_kept")).cast("bigint").alias("n_removed"),
        )
    )
