"""Seeded inputs for the engine benchmark.

Everything here is plain NumPy/Python: the same seed gives byte-identical
pages, micro-batches and queries, and the engine only ever sees the
generated rows. Nothing in this module touches Spark.

* Vocabulary: ~50k pronounceable pseudo-words drawn with Zipf weights
  (s = 1.07), so head terms have long posting lists and the tail is long.
* Pages: HTML around the text (head, script, style and comment boilerplate
  that the refine stage strips), ~5% re-crawls of a url with a later
  `warc_ts` and new text, and ~3% planted near-duplicate pairs (a copy of a
  page under another url with a few tokens replaced). The planted pairs are
  kept as ground truth for the MinHash recall check.
* Micro-batches: a base batch plus follow-up batches that mix new urls with
  re-crawls of urls from earlier batches (the streaming upsert path).
* Queries: OR, AND and must-not strings plus nested bool trees, mixing head
  and mid-frequency terms.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

ZIPF_S = 1.07
VOCAB_SIZE = 50_000
MIN_TOKENS, MAX_TOKENS = 40, 160  # tokens per page
UPSERT_SHARE = 0.3  # re-crawls of earlier urls in each upsert micro-batch
NEAR_DUP_JACCARD = 0.5  # ~ the 64-hash, 16-band MinHash LSH threshold
PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]  # 85
_EPOCH = dt.datetime(2024, 1, 1)
_HTML = (
    "<html><head><title>{title}</title><style>p{{margin:0}}</style></head>"
    "<body><script>var n={n};</script>"
    "<p>{p1}</p><!-- crawl {n} --><p>{p2}</p></body></html>"
)
_LANGS = ("en", "en", "en", "fr", "de")


def word(i: int) -> str:
    """Rank i -> a unique lowercase pseudo-word (three syllables, or four
    past 85^3). Purely alphabetic, so the standard analyzer keeps it as one
    token."""
    n = len(_SYLLABLES)
    out = _SYLLABLES[i % n] + _SYLLABLES[(i // n) % n] + _SYLLABLES[(i // n // n) % n]
    return out + (_SYLLABLES[i // n**3] if i >= n**3 else "")


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


@dataclass
class Pages:
    """A page table plus its ground truth."""

    frame: pd.DataFrame  # url, warc_ts, html, text, lang
    planted: list[tuple[str, str]] = field(default_factory=list)  # url pairs

    def latest(self) -> pd.DataFrame:
        """One row per url: the latest crawl (what refine keeps)."""
        f = self.frame.sort_values(["url", "warc_ts"])
        return f.drop_duplicates("url", keep="last")

    def stats(self) -> dict:
        live = self.latest()
        toks = live["text"].str.count(" ") + 1
        vocab = set()
        for t in live["text"]:
            vocab.update(t.split())
        return {
            "pages": int(len(self.frame)),
            "docs": int(len(live)),
            "tokens": int(toks.sum()),
            "vocabulary": len(vocab),
            "text_bytes": int(live["text"].str.len().sum()),
            "planted_pairs": len(self.planted),
        }


class CorpusGen:
    """Seeded generator. Every method draws from one `numpy` Generator in
    call order, so a fixed call sequence is reproducible per seed."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = np.array([word(i) for i in range(VOCAB_SIZE)])
        self.weights = zipf_weights(VOCAB_SIZE)
        self._next_page = 0

    # -- pages ---------------------------------------------------------------
    def _texts(self, n: int) -> list[str]:
        lens = self.rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n)
        ids = self.rng.choice(len(self.vocab), size=int(lens.sum()), p=self.weights)
        toks = self.vocab[ids]
        offs = np.concatenate([[0], np.cumsum(lens)])
        return [" ".join(toks[offs[i] : offs[i + 1]]) for i in range(n)]

    def _mutate(self, text: str, share: float) -> str:
        """Replace about `share` of the tokens with fresh Zipf draws."""
        toks = text.split()
        k = max(1, int(len(toks) * share))
        pos = self.rng.choice(len(toks), size=k, replace=False)
        new = self.vocab[self.rng.choice(len(self.vocab), size=k, p=self.weights)]
        for p, w in zip(pos, new):
            toks[p] = w
        return " ".join(toks)

    def _row(self, url: str, ts: dt.datetime, text: str) -> tuple:
        page = self._next_page
        self._next_page += 1
        toks = text.split(" ")
        cut = len(toks) // 2
        html = _HTML.format(
            title=f"page {page}", n=page, p1=" ".join(toks[:cut]), p2=" ".join(toks[cut:])
        ).encode("utf-8")
        lang = _LANGS[int(self.rng.integers(len(_LANGS)))]
        return (url, ts, html, text, lang)

    def pages(
        self,
        n: int,
        prefix: str,
        recrawl: float = 0.05,
        near_dup: float = 0.03,
        day: int = 0,
    ) -> Pages:
        """`n` fresh urls (+ re-crawls, + planted near-duplicate copies)."""
        texts = self._texts(n)
        rows, planted = [], []
        base = _EPOCH + dt.timedelta(days=day)
        for i, text in enumerate(texts):
            url = f"https://site{i % 97}.test/{prefix}/{i:06d}"
            ts = base + dt.timedelta(seconds=int(self.rng.integers(86_400)))
            rows.append(self._row(url, ts, text))
            if self.rng.random() < recrawl:
                later = ts + dt.timedelta(hours=1 + int(self.rng.integers(48)))
                rows.append(self._row(url, later, self._mutate(text, 0.5)))
            elif self.rng.random() < near_dup:  # only un-recrawled pages stay twins
                dup = f"https://mirror{i % 13}.test/{prefix}/{i:06d}"
                rows.append(self._row(dup, ts, self._mutate(text, 0.04)))
                planted.append((url, dup))
        frame = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
        order = self.rng.permutation(len(frame))  # ingestion order != url order
        return Pages(frame.iloc[order].reset_index(drop=True), planted)

    def upsert_batch(self, n: int, prefix: str, prior: list[pd.DataFrame], day: int) -> pd.DataFrame:
        """A micro-batch of `n` rows: `UPSERT_SHARE` of them re-crawls of urls
        seen in `prior` batches (later timestamp, new text), the rest new urls."""
        n_re = int(n * UPSERT_SHARE)
        fresh = self.pages(n - n_re, prefix, recrawl=0.0, near_dup=0.0, day=day).frame
        seen = pd.concat(prior, ignore_index=True).drop_duplicates("url")
        pick = self.rng.choice(len(seen), size=min(n_re, len(seen)), replace=False)
        ts = _EPOCH + dt.timedelta(days=day, seconds=86_399)
        re_rows = [
            self._row(seen["url"].iloc[j], ts, self._mutate(seen["text"].iloc[j], 0.5))
            for j in pick
        ]
        out = pd.concat(
            [fresh, pd.DataFrame(re_rows, columns=fresh.columns)], ignore_index=True
        )
        return out.iloc[self.rng.permutation(len(out))].reset_index(drop=True)

    # -- queries -------------------------------------------------------------
    def _head(self) -> str:
        return self.vocab[int(self.rng.integers(0, 40))]

    def _mid(self, top: int = 1500) -> str:
        return self.vocab[int(self.rng.integers(40, top))]

    def query_strings(self, n: int) -> list[tuple[str, str]]:
        """(mode, query) pairs rotating OR / AND / must-not shapes."""
        out = []
        for i in range(n):
            shape = i % 3
            if shape == 0:
                out.append(("or", f"{self._head()} {self._mid()} {self._mid()}"))
            elif shape == 1:  # a mid term frequent enough to co-occur with a head term
                out.append(("and", f"{self._head()} {self._mid(300)}"))
            else:
                out.append(("or", f"{self._head()} {self._mid()} -{self._head()}"))
        return out

    def trees(self, n: int) -> list:
        """Nested bool trees: must(head) + should(mid, mid) + must_not(head)."""
        from engine.boolquery import Bool, Term

        return [
            Bool(
                must=(Term(self._head()),),
                should=(Bool(should=(Term(self._mid()), Term(self._mid()))),),
                must_not=(Term(self._head()),),
            )
            for _ in range(n)
        ]


def planted_recall_precision(
    planted: list[tuple[str, str]],
    url_of: dict[int, str],
    text_of: dict[int, str],
    candidates: list[tuple[int, int]],
) -> tuple[float, float]:
    """Recall of the planted pairs among LSH candidates, and the share of
    candidates whose exact 3-shingle Jaccard reaches `NEAR_DUP_JACCARD`."""
    got = {frozenset((url_of[a], url_of[b])) for a, b in candidates}
    hit = sum(frozenset(p) in got for p in planted)
    recall = hit / len(planted) if planted else 1.0

    def shingles(t: str) -> set:
        toks = t.split()
        return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}

    good = 0
    for a, b in candidates:
        sa, sb = shingles(text_of[a]), shingles(text_of[b])
        if sa and sb and len(sa & sb) / len(sa | sb) >= NEAR_DUP_JACCARD:
            good += 1
    precision = good / len(candidates) if candidates else 1.0
    return recall, precision
