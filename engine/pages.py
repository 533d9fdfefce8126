"""Deterministic synthetic `pages` corpus (FIXTURES.md §2; BASELINE.json:15).

pages(url: string, warc_ts: timestamp, html: binary, text: string, lang: string)

Seeded `random.Random` only — no wall clock, no external data. The html is a
fixed template around `text`, so `engine.refine.extract_text(html) == text`
holds byte-identically by construction and the per-row invariant is
self-verifying over the whole table.

Vocabulary is Zipf-weighted (~220 terms) so genuine hot terms exist for the
skew/salting tests (SURVEY.md C5); ~3% of urls are re-crawled with a later
warc_ts to exercise dedup (B5).
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd

# core vocabulary mirrors the driver `documents` style + a long tail
_CORE = (
    "the fast key order sort table scan merge join index query value stream "
    "window batch spark shard segment term doc score rank filter group count "
    "sum data page text token hash block list tree node edge graph map reduce "
    "read write disk memory cache net user event time date range limit top "
    "vector embed model train test split field row column type schema null "
    "customer supplier part nation region price tax ship line item flag status"
).split()
_TAIL = [f"w{i:03d}" for i in range(120)]
VOCAB = _CORE + _TAIL

_TEMPLATE = (
    "<html><head><title>t{page}</title><style>.x{{color:red}}</style></head>"
    "<body><script>var a=1;</script><p>{text}</p><!-- c --></body></html>"
)

_LANGS = ["en"] * 50 + ["fr"] * 15 + ["es"] * 15 + ["de"] * 10 + ["zh"] * 10
_EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0)


def _zipf_weights(n: int) -> list[float]:
    return [1.0 / (i + 1) for i in range(n)]


def generate_pages(n_pages: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic pandas DataFrame of n_pages rows (+~3% re-crawls)."""
    rng = random.Random(seed)
    weights = _zipf_weights(len(VOCAB))
    rows = []
    for page in range(n_pages):
        site = rng.randrange(50)
        url = f"https://example{site}.test/p/{page:06d}"
        n_tok = rng.randint(20, 120)
        text = " ".join(rng.choices(VOCAB, weights=weights, k=n_tok))
        ts = _EPOCH + dt.timedelta(minutes=page, seconds=rng.randrange(60))
        lang = rng.choice(_LANGS)
        html = _TEMPLATE.format(page=page, text=text).encode("utf-8")
        rows.append((url, ts, html, text, lang))
        if rng.random() < 0.03:  # re-crawl: same url, later ts, new text
            n_tok2 = rng.randint(20, 120)
            text2 = " ".join(rng.choices(VOCAB, weights=weights, k=n_tok2))
            ts2 = ts + dt.timedelta(days=1, seconds=rng.randrange(3600))
            html2 = _TEMPLATE.format(page=page, text=text2).encode("utf-8")
            rows.append((url, ts2, html2, text2, lang))
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    # shuffle row order deterministically so ingestion order ≠ url order
    idx = list(range(len(pdf)))
    rng.shuffle(idx)
    return pdf.iloc[idx].reset_index(drop=True)


def generate_pages_fast(
    n_pages: int,
    seed: int = 42,
    vocab_size: int = 50_000,
    min_tok: int = 80,
    max_tok: int = 400,
) -> pd.DataFrame:
    """Vectorized synthetic corpus for scale benchmarks.

    Same schema and html↔text invariant as `generate_pages`, but NumPy-
    vectorized Zipf draws over a `vocab_size` vocabulary so generating
    10^5-10^6 pages takes seconds, and the term-frequency distribution has a
    realistic hot head + long tail (exercises C5 salting and the encode
    Zipf-tail path at meaningful sizes). Deterministic (seeded); no
    re-crawls — this corpus is for throughput, not dedup semantics."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vocab = np.array(_CORE + [f"v{i:05d}" for i in range(vocab_size)])
    w = 1.0 / np.arange(1, len(vocab) + 1)
    w /= w.sum()
    lens = rng.integers(min_tok, max_tok + 1, size=n_pages)
    offs = np.zeros(n_pages + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    toks = vocab[rng.choice(len(vocab), size=int(offs[-1]), p=w)]
    texts = [" ".join(toks[offs[i] : offs[i + 1]]) for i in range(n_pages)]
    urls = [f"https://example{i % 997}.test/f/{i:08d}" for i in range(n_pages)]
    ts = pd.Series(
        pd.Timestamp(_EPOCH) + pd.to_timedelta(np.arange(n_pages) % 100_000, unit="s")
    )
    html = [
        _TEMPLATE.format(page=i, text=t).encode("utf-8") for i, t in enumerate(texts)
    ]
    langs = [_LANGS[i % len(_LANGS)] for i in range(n_pages)]
    return pd.DataFrame(
        {"url": urls, "warc_ts": ts, "html": html, "text": texts, "lang": langs}
    )


def pages_df(spark, n_pages: int, seed: int = 42, partitions: int = 8):
    """Spark DataFrame with the mandated schema (input_hint)."""
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    pdf = generate_pages(n_pages, seed)
    return spark.createDataFrame(pdf, schema=schema).repartition(partitions)
