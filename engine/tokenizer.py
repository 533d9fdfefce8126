"""Pinned analyzer: NFKC normalize → lowercase → UAX#29-subset word break.

Targets the documented semantics of the Elasticsearch `standard` analyzer
(UAX#29 word boundaries, lowercase filter, 255-char max token, no stopwords
by default) [public: ES standard analyzer docs]. Full ICU UAX#29 is not
available offline, so the word-break rule is a pinned, documented subset
(SURVEY.md §7 risk 2):

  * a token is a maximal run of Unicode word characters (letters, digits,
    marks — Python regex ``[^\\W_]`` semantics) excluding CJK ideographs;
  * each CJK ideograph is its own token (Lucene StandardTokenizer emits
    unigrams for Han [public]);
  * tokens longer than 255 chars are dropped;
  * text is NFKC-normalized and lowercased first.

The golden fixtures (tests/oracle_bm25.py) use this same function, making
rank-identity internally consistent (no live ES in the sandbox).

Both a plain-Python form (driver-side query analysis, oracle) and a
vectorized pandas_udf form (refine stage) are provided.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_TOKEN_LEN = 255

_CJK = "㐀-䶿一-鿿豈-﫿"
# one CJK ideograph OR a run of word chars that are not underscore/CJK
TOKEN_RE = re.compile(rf"[{_CJK}]|[^\W_{_CJK}]+", re.UNICODE)


def normalize(text: str) -> str:
    """NFKC + lowercase (B2)."""
    return unicodedata.normalize("NFKC", text).lower()


# ES `english` analyzer option (VERDICT r03 #2): the Lucene EnglishAnalyzer
# default stop set (33 words) [public: Lucene ENGLISH_STOP_WORDS_SET] plus
# Harman's 3-rule S-stemmer [public: Harman 1991, "How effective is
# suffixing?"] — deliberately the SQL-expressible minimal English config so
# the DuckDB oracle can replay it exactly (a Porter stemmer would not be).
ENGLISH_STOPWORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)

# ES `french` analyzer config (VERDICT r04 "Next round" #7), pinned as the
# SQL-expressible minimal chain: stopwords + Lucene's FrenchMinimalStemFilter
# [public: Lucene analysis/fr/FrenchMinimalStemmer.java, from Savoy,
# "Report on CLEF-2001 Experiments"] — the MINIMAL stemmer, not the light
# one, so the DuckDB oracle can replay it exactly. Stop set: a pinned
# literal subset of the Snowball French stop list [public] plus the
# single-letter elision residue (the tokenizer splits l'avion → [l, avion],
# so dropping the orphan clitics here composes to ES's elision filter).
FRENCH_STOPWORDS = frozenset(
    "au aux avec ce ces dans de des du elle elles en et eux il ils je la le "
    "les leur lui ma mais me mes moi mon ne nos notre nous on ou où par pas "
    "pour qu que qui sa se ses son sur ta te tes toi ton tu un une vos "
    "votre vous été être est sont avoir ont a "
    "l d j c m n s t y".split()
)


def french_minimal_stem(tok: str) -> str:
    """Lucene FrenchMinimalStemmer, rule-for-rule: tokens < 6 chars pass
    through; -aux → -al (chevaux → cheval), other -x dropped, else the
    SEQUENTIAL strip chain s, r, e, é, then a doubled final letter —
    'tables' → 'tabl' while 'table' (5 chars) passes through, exactly the
    published algorithm's quirk."""
    if len(tok) < 6:
        return tok
    if tok[-1] == "x":
        if tok[-3:-1] == "au":
            return tok[:-2] + "l"
        return tok[:-1]
    if tok[-1] == "s":
        tok = tok[:-1]
    if tok[-1] == "r":
        tok = tok[:-1]
    if tok[-1] == "e":
        tok = tok[:-1]
    if tok[-1] == "é":
        tok = tok[:-1]
    if tok[-1] == tok[-2]:
        tok = tok[:-1]
    return tok


def _french(toks: list[str]) -> list[str]:
    return [french_minimal_stem(t) for t in toks if t not in FRENCH_STOPWORDS]


# ES `german` analyzer config (VERDICT r04 "What's missing" #2, round-5b):
# pinned literal subset of the Snowball German stop list [public] + a
# minimal German stemmer in the mold of Lucene's GermanMinimalStemFilter
# [public: Lucene analysis/de; Savoy, "Morphologie et recherche
# d'information"]. Like the english/french configs, deliberately the
# SQL-expressible MINIMAL chain so the DuckDB twin replays it exactly.
GERMAN_STOPWORDS = frozenset(
    "aber alle als also am an auch auf aus bei bin bis bist da damit das "
    "dass dein dem den der des dich die dies diese dir doch du durch ein "
    "eine einem einen einer eines er es für hab habe hat hatte hier ich "
    "ihr ihre im in ist ja jede jedem jeden jeder jedes kann kein mein "
    "mich mir mit muss nach nicht noch nun nur ob oder ohne sehr sein "
    "seine sich sie sind so über um und uns unser unter viel vom von vor "
    "war warum was wenn wer wie wieder will wir wird wo zu zum zur".split()
)


def german_minimal_stem(tok: str) -> str:
    """Pinned minimal German stemmer: tokens < 5 chars pass through
    untouched (no umlaut fold either); else fold umlauts (ä→a, ö→o, ü→u),
    then strip at most ONE plural marker — -nen when len > 6
    (lehrerinnen → lehrerin), else -en when len > 5 (frauen → frau), else
    a final n/e/s when len > 5 (filtern → filter, spalte → spalt,
    tables → table). Lucene's GermanMinimalStemFilter differs in corner
    cases (this is the pinned, SQL-replayable subset — the german LIGHT
    stemmer's -er/-est handling is deliberately absent)."""
    if len(tok) < 5:
        return tok
    tok = tok.replace("ä", "a").replace("ö", "o").replace("ü", "u")
    if len(tok) > 6 and tok.endswith("nen"):
        return tok[:-3]
    if len(tok) > 5:
        if tok.endswith("en"):
            return tok[:-2]
        if tok[-1] in "nes":
            return tok[:-1]
    return tok


def _german(toks: list[str]) -> list[str]:
    return [german_minimal_stem(t) for t in toks if t not in GERMAN_STOPWORDS]


# INDEX-TIME edge_ngram filter [public: ES edge_ngram token filter /
# search_as_you_type]: each token emits its min_gram..max_gram prefixes
# (tokens shorter than min_gram emit nothing; no preserve_original —
# pinned). The search side analyzes with `standard`, so a typed prefix is
# ONE exact term lookup in the gram index instead of a query-time
# dictionary expansion (contrast bm25_prefix) — the classic index-bigger /
# query-cheaper trade, which is the right one at 100 TB query volume.
EDGE_MIN_GRAM = 3
EDGE_MAX_GRAM = 5


def _edge_ngrams(toks: list[str]) -> list[str]:
    return [
        t[:g]
        for t in toks
        for g in range(EDGE_MIN_GRAM, min(len(t), EDGE_MAX_GRAM) + 1)
    ]


# INDEX-TIME shingle filter [public: ES shingle token filter docs]: emit
# unigrams AND adjacent 2-shingles joined by one space (output_unigrams=
# true, max_shingle_size=2, the ES defaults). A phrase whose analyzer
# matches becomes a plain term lookup on the shingle term — positions never
# need to be read at query time.
def _shingles(toks: list[str]) -> list[str]:
    return list(toks) + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


# Index-time synonym CONTRACTION (VERDICT r04 #10) [public: ES synonym /
# synonym_graph token filter with `expand: false` — "a, b => a" folds every
# set member to the first entry AT INDEX TIME, so df/cf/positions/dl are
# computed over the folded stream and one posting list serves the set].
# Pinned literal demo table, the index-time counterpart of the registry's
# query-time _SYNONYMS map; an analyzer mismatch raises via the same
# manifest plumbing as english/french. Index-time folding deliberately
# ranks differently from query-time expansion: the folded term's df is the
# UNION of the set members' dfs (one idf), where query-time expansion
# scores each member against its own df and sums.
SYNONYM_FOLD = {"quick": "fast", "join": "merge"}


def _synonyms(toks: list[str]) -> list[str]:
    return [SYNONYM_FOLD.get(t, t) for t in toks]


ANALYZERS = (
    "standard", "english", "french", "german", "synonyms",
    "edge_ngram", "shingle",
)


def s_stem(tok: str) -> str:
    """Harman S-stemmer: first matching rule applies, tokens < 3 chars pass
    through (pinned guard so a bare 's'/'is' is never emptied). Rules:
    -ies → -y (unless -eies/-aies); -es → -e (unless -aes/-ees/-oes);
    -s → ∅ (unless -us/-ss)."""
    if len(tok) < 3:
        return tok
    if tok.endswith("ies"):
        return tok if tok.endswith(("eies", "aies")) else tok[:-3] + "y"
    if tok.endswith("es"):
        return tok if tok.endswith(("aes", "ees", "oes")) else tok[:-1]
    if tok.endswith("s"):
        return tok if tok.endswith(("us", "ss")) else tok[:-1]
    return tok


def _english(toks: list[str]) -> list[str]:
    return [s_stem(t) for t in toks if t not in ENGLISH_STOPWORDS]


def analyze(text: str, analyzer: str = "standard") -> list[str]:
    """Analyze one string under the named analyzer config (pure-Python
    reference form — the query path and the oracles use this)."""
    if analyzer not in ANALYZERS:
        raise ValueError(f"unknown analyzer {analyzer!r}; one of {ANALYZERS}")
    toks = tokenize(text)
    if analyzer == "english":
        return _english(toks)
    if analyzer == "french":
        return _french(toks)
    if analyzer == "german":
        return _german(toks)
    if analyzer == "synonyms":
        return _synonyms(toks)
    if analyzer == "edge_ngram":
        return _edge_ngrams(toks)
    if analyzer == "shingle":
        return _shingles(toks)
    return toks


def english_tokens_expr(toks):
    """Column form of the english filter chain over an `array<string>` of
    standard-analyzer tokens: stopword removal + S-stemmer as pure Catalyst
    higher-order functions (filter/transform) — whole-stage codegen, no UDF.
    Rule order and guards mirror s_stem exactly (equivalence pinned by
    tests/test_english.py)."""

    def _stem(t):
        drop3y = F.concat(t.substr(F.lit(1), F.length(t) - F.lit(3)), F.lit("y"))
        drop1 = t.substr(F.lit(1), F.length(t) - F.lit(1))
        return (
            F.when(F.length(t) < 3, t)
            .when(t.endswith("eies") | t.endswith("aies"), t)
            .when(t.endswith("ies"), drop3y)
            .when(t.endswith("aes") | t.endswith("ees") | t.endswith("oes"), t)
            .when(t.endswith("es"), drop1)
            .when(t.endswith("us") | t.endswith("ss"), t)
            .when(t.endswith("s"), drop1)
            .otherwise(t)
        )

    stopped = F.filter(toks, lambda t: ~t.isin(*sorted(ENGLISH_STOPWORDS)))
    return F.transform(stopped, _stem)


def french_tokens_expr(toks):
    """Column form of the french chain (stopwords + FrenchMinimalStemmer)
    over an `array<string>` of standard-analyzer tokens — pure Catalyst
    higher-order functions, no UDF. Step order and guards mirror
    french_minimal_stem exactly (equivalence pinned by
    tests/test_french.py)."""

    def _strip_if(s, ch):
        return F.when(
            s.endswith(ch), s.substr(F.lit(1), F.length(s) - F.lit(1))
        ).otherwise(s)

    def _stem(t):
        x_res = F.when(
            t.endswith("aux"),
            F.concat(t.substr(F.lit(1), F.length(t) - F.lit(2)), F.lit("l")),
        ).otherwise(t.substr(F.lit(1), F.length(t) - F.lit(1)))
        s = _strip_if(t, "s")
        s = _strip_if(s, "r")
        s = _strip_if(s, "e")
        s = _strip_if(s, "é")
        last = s.substr(F.length(s), F.lit(1))
        prev = s.substr(F.length(s) - F.lit(1), F.lit(1))
        dbl = F.when(
            (F.length(s) >= 2) & (last == prev),
            s.substr(F.lit(1), F.length(s) - F.lit(1)),
        ).otherwise(s)
        return (
            F.when(F.length(t) < 6, t)
            .when(t.endswith("x"), x_res)
            .otherwise(dbl)
        )

    stopped = F.filter(toks, lambda t: ~t.isin(*sorted(FRENCH_STOPWORDS)))
    return F.transform(stopped, _stem)


def german_tokens_expr(toks):
    """Column form of the german chain (stopwords + minimal stemmer) over an
    `array<string>` of standard-analyzer tokens — pure Catalyst higher-order
    functions, no UDF. Rule order and guards mirror german_minimal_stem
    exactly (equivalence pinned by tests/test_german.py)."""

    def _stem(t):
        f = F.translate(t, "äöü", "aou")
        drop3 = f.substr(F.lit(1), F.length(f) - F.lit(3))
        drop2 = f.substr(F.lit(1), F.length(f) - F.lit(2))
        drop1 = f.substr(F.lit(1), F.length(f) - F.lit(1))
        last = f.substr(F.length(f), F.lit(1))
        return (
            F.when(F.length(t) < 5, t)
            .when((F.length(f) > 6) & f.endswith("nen"), drop3)
            .when((F.length(f) > 5) & f.endswith("en"), drop2)
            .when((F.length(f) > 5) & last.isin("n", "e", "s"), drop1)
            .otherwise(f)
        )

    stopped = F.filter(toks, lambda t: ~t.isin(*sorted(GERMAN_STOPWORDS)))
    return F.transform(stopped, _stem)


def edge_tokens_expr(toks):
    """Column form of the index-time edge_ngram chain — flatten(transform)
    over the token array, whole-stage codegen, no UDF. Mirrors _edge_ngrams
    exactly (equivalence pinned by tests/test_index_time_analyzers.py)."""

    def _grams(t):
        seq = F.sequence(
            F.lit(EDGE_MIN_GRAM), F.least(F.lit(EDGE_MAX_GRAM), F.length(t))
        )
        return F.when(
            F.length(t) >= EDGE_MIN_GRAM,
            F.transform(seq, lambda g: t.substr(F.lit(1), g)),
        ).otherwise(F.array().cast("array<string>"))

    return F.flatten(F.transform(toks, _grams))


def shingle_tokens_expr(toks):
    """Column form of the index-time shingle chain (unigrams + adjacent
    2-shingles) — zip_with over two slices, no UDF. Mirrors _shingles
    exactly (equivalence pinned by tests/test_index_time_analyzers.py)."""
    n1 = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    sh = F.zip_with(
        F.slice(toks, F.lit(1), n1),
        F.slice(toks, F.lit(2), n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.concat(toks, sh)


def tokenize(text: str) -> list[str]:
    """Analyze one string → token list (B2 + B3). Pure-Python reference form."""
    if text is None:
        return []
    toks = TOKEN_RE.findall(normalize(text))
    return [t for t in toks if len(t) <= MAX_TOKEN_LEN]


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(s: pd.Series) -> pd.Series:
    """Vectorized analyzer: pandas .str ops, Arrow-batched (BASELINE.json:15)."""
    norm = s.fillna("").str.normalize("NFKC").str.lower()
    toks = norm.str.findall(TOKEN_RE)
    return toks.map(lambda ts: [t for t in ts if len(t) <= MAX_TOKEN_LEN])


_TC_SCHEMA = T.StructType(
    [
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("tfs", T.ArrayType(T.IntegerType())),
    ]
)


def make_term_counts_udf(analyzer: str = "standard"):
    """Analyzer + per-doc term counting fused in one Arrow pass (the
    map-side combiner): same pinned tokenization as tokenize_udf, then a
    C-speed Counter per doc. Returns parallel (terms, tfs) arrays — struct
    of two arrays, NOT array of structs, so no per-entry Python dicts cross
    the Arrow boundary. analyzer='english' folds the stopword filter +
    S-stemmer into the SAME pass (counts are post-filter, as Lucene's
    token-filter chain runs before the indexer counts)."""
    if analyzer not in ANALYZERS:
        raise ValueError(f"unknown analyzer {analyzer!r}; one of {ANALYZERS}")
    english = analyzer == "english"
    french = analyzer == "french"
    german = analyzer == "german"
    synonyms = analyzer == "synonyms"
    edge = analyzer == "edge_ngram"
    shingle = analyzer == "shingle"

    # token-local analyzer chains are memoized per worker process: natural
    # language repeats tokens heavily, so the stem/stopword chain runs once
    # per DISTINCT token instead of once per occurrence (same trick as
    # dedup._token_hash_cache). None marks a dropped (stopword) token.
    _token_memo: dict[str, str | None] = {}

    def _mapped(t: str) -> str | None:
        v = _token_memo.get(t, False)
        if v is not False:
            return v
        if english:
            v = None if t in ENGLISH_STOPWORDS else s_stem(t)
        elif french:
            v = None if t in FRENCH_STOPWORDS else french_minimal_stem(t)
        elif german:
            v = None if t in GERMAN_STOPWORDS else german_minimal_stem(t)
        else:  # synonyms
            v = SYNONYM_FOLD.get(t, t)
        _token_memo[t] = v
        return v

    token_local = english or french or german or synonyms

    @F.pandas_udf(_TC_SCHEMA)
    def term_counts(s: pd.Series) -> pd.Series:
        from collections import Counter

        norm = s.fillna("").str.normalize("NFKC").str.lower()
        toks = norm.str.findall(TOKEN_RE)
        terms, tfs = [], []
        for ts in toks:
            it = (t for t in ts if len(t) <= MAX_TOKEN_LEN)
            if token_local:
                it = (
                    m for m in (_mapped(t) for t in it) if m is not None
                )
            elif edge:
                it = (
                    t[:g]
                    for t in it
                    for g in range(EDGE_MIN_GRAM, min(len(t), EDGE_MAX_GRAM) + 1)
                )
            elif shingle:
                kept = [t for t in it]
                it = kept + [f"{a} {b}" for a, b in zip(kept, kept[1:])]
            c = Counter(it)
            terms.append(list(c.keys()))
            tfs.append(list(c.values()))
        # StructType scalar UDFs return a DataFrame (one column per field)
        return pd.DataFrame({"terms": terms, "tfs": tfs}, index=toks.index)

    return term_counts


term_counts_udf = make_term_counts_udf("standard")
