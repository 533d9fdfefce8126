"""ES `simple_query_string` parser (SURVEY.md §2.D: D43) — the user-facing
query grammar compiled onto the existing Bool tree (engine/boolquery.py)
[public: ES simple_query_string docs; Lucene SimpleQueryParser].

Supported syntax (the Lucene SimpleQueryParser core):

  term            analyzed word (the index analyzer, D1)
  "a b"           phrase — all terms must match AND be strictly adjacent
  pre*            prefix — dictionary expansion, scored as a disjunction
  +               AND (binds tighter than |)
  |               OR
  -atom           negation of the following atom (must_not in its group)
  ( ... )         grouping
  whitespace      the default operator (default 'or', ES default)

Pinned divergences (documented, deterministic):
  * prefix expansion caps at `max_expansions` vocabulary terms in ascending
    term order (ES caps at 50 in an index-dependent order);
  * a negated atom inside an OR group attaches as the group's must_not
    (Lucene wraps it in SHOULD(NOT(x)), which can match the whole corpus —
    never useful, never produced by real clients);
  * `~N` fuzziness/slop suffixes are not part of this subset (fuzzy and
    sloppy-phrase exist as first-class queries elsewhere in the engine).

The compiled tree runs on the exact path (score_tree): phrases carry a
position predicate the per-term partial frame can't express, so they ride a
DocSet filter leaf resolved against `search.phrase_filter` doc sets. Pure
term/bool trees (no phrase) remain WAND-eligible via boolquery.is_pure_bool.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .boolquery import Bool, DocSet, Node, Term, tree_search
from .tokenizer import tokenize

# ---------------------------------------------------------------------------
# lexer

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<phrase>"[^"]*")
      | (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<pipe>\|)
      | (?P<plus>\+)
      | (?P<minus>-)
      | (?P<word>[^\s()|+\-"]+)
    )""",
    re.VERBOSE,
)


def _lex(
    q: str,
    token_re: "re.Pattern[str]" = _TOKEN_RE,
    label: str = "simple_query_string",
) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(q):
        m = token_re.match(q, i)
        if not m or m.end() == i:
            if q[i:].strip():
                raise ValueError(f"{label}: cannot lex at {q[i:]!r}")
            break
        i = m.end()
        kind = m.lastgroup
        out.append((kind, m.group(kind)))
    return out


# ---------------------------------------------------------------------------
# parser AST (pre-analysis; compiled to boolquery nodes afterwards)


@dataclass(frozen=True)
class _Word:
    text: str


@dataclass(frozen=True)
class _Phrase:
    text: str


@dataclass(frozen=True)
class _Prefix:
    prefix: str


@dataclass(frozen=True)
class _Group:
    node: "object"


@dataclass(frozen=True)
class _Neg:
    atom: "object"


@dataclass(frozen=True)
class _Op:
    """n-ary operator node: op in {'and', 'or'}, operands parse-order."""

    op: str
    operands: tuple


class _Parser:
    """Precedence climbing: OR < AND; whitespace juxtaposition inserts the
    default operator between adjacent operands.

    The grammar differences live in class attributes (and atom()), so
    _QSParser reuses this core: the OR / AND operator token kinds, the
    token kinds that start an operand (juxtaposition), and the label
    prefixed to parse errors."""

    _OR_KIND = "pipe"
    _AND_KIND = "plus"
    _ATOM_STARTS = ("phrase", "lparen", "minus", "word")
    _LABEL = ""

    def __init__(self, tokens: list[tuple[str, str]], default_operator: str):
        if default_operator not in ("or", "and"):
            raise ValueError(f"default_operator must be or/and: {default_operator}")
        self.toks = tokens
        self.pos = 0
        self.default = default_operator

    def peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.pos += 1
        return t

    def parse(self):
        node = self.or_expr()
        if self.peek()[0] is not None:
            raise ValueError(f"{self._LABEL}unexpected token {self.peek()!r}")
        return node

    def or_expr(self):
        ops = [self.and_expr()]
        while True:
            kind, _ = self.peek()
            if kind == self._OR_KIND:
                self.next()
                ops.append(self.and_expr())
            elif self.default == "or" and kind in self._ATOM_STARTS:
                ops.append(self.and_expr())  # juxtaposition = default OR
            else:
                break
        return ops[0] if len(ops) == 1 else _Op("or", tuple(ops))

    def and_expr(self):
        ops = [self.atom()]
        while True:
            kind, _ = self.peek()
            if kind == self._AND_KIND:
                self.next()
                ops.append(self.atom())
            elif self.default == "and" and kind in self._ATOM_STARTS:
                ops.append(self.atom())  # juxtaposition = default AND
            else:
                break
        return ops[0] if len(ops) == 1 else _Op("and", tuple(ops))

    def atom(self):
        kind, text = self.next()
        if kind == "minus":
            return _Neg(self.atom())
        if kind == "phrase":
            return _Phrase(text[1:-1])
        if kind == "word":
            if text.endswith("*") and len(text) > 1:
                return _Prefix(text[:-1])
            return _Word(text)
        if kind == "lparen":
            inner = self.or_expr()
            if self.next()[0] != "rparen":
                raise ValueError("unbalanced parenthesis")
            return _Group(inner)
        raise ValueError(f"unexpected token {(kind, text)!r}")


def parse_simple_query_string(q: str, default_operator: str = "or"):
    """Query string → parser AST (compile with `compile_tree`)."""
    toks = _lex(q)
    if not toks:
        raise ValueError("empty simple_query_string")
    return _Parser(toks, default_operator).parse()


# ---------------------------------------------------------------------------
# compilation to boolquery nodes


class _Compiler:
    """AST → boolquery Node. Phrases become Bool(must=terms,
    filter=(DocSet,)) with the adjacency doc set registered in
    self.phrases; prefixes become a should-disjunction over the expanded
    vocabulary (the ES multi-term rewrite)."""

    def __init__(self, expand, default_operator: str):
        self.expand = expand  # prefix -> list[str] (bounded, deterministic)
        self.default = default_operator
        self.phrases: dict[str, list[str]] = {}  # DocSet name -> terms

    def compile(self, ast) -> Node:
        node = self._node(ast)
        if node is None:
            raise ValueError("query analyzes to no positive clauses")
        if isinstance(node, _NegMark):
            raise ValueError("pure-negative simple_query_string cannot match")
        return node

    def _node(self, ast):
        if isinstance(ast, _Word):
            toks = tokenize(ast.text)
            if not toks:
                return None
            if len(toks) == 1:
                return Term(toks[0])
            # the analyzer split one word into several tokens: combine with
            # the default operator (the ES per-field analysis behavior)
            parts = tuple(Term(t) for t in toks)
            return (
                Bool(must=parts)
                if self.default == "and"
                else Bool(should=parts, min_should=1)
            )
        if isinstance(ast, _Phrase):
            toks = tokenize(ast.text)
            if not toks:
                return None
            if len(toks) == 1:
                return Term(toks[0])
            name = f"phrase_{len(self.phrases)}"
            self.phrases[name] = toks
            return Bool(must=tuple(Term(t) for t in toks), filter=(DocSet(name),))
        if isinstance(ast, _Prefix):
            toks = tokenize(ast.prefix)
            if len(toks) != 1:
                raise ValueError(f"prefix must analyze to one token: {ast.prefix!r}")
            expanded = self.expand(toks[0])
            if not expanded:
                return None
            if len(expanded) == 1:
                return Term(expanded[0])
            return Bool(should=tuple(Term(t) for t in expanded), min_should=1)
        if isinstance(ast, _Group):
            return self._node(ast.node)
        if isinstance(ast, _Neg):
            inner = self._node(ast.atom)
            if inner is None:
                return None
            if isinstance(inner, _NegMark):
                return inner.node  # double negation cancels: --x == x
            return _NegMark(inner)
        if isinstance(ast, _Op):
            pos, neg = [], []
            for o in ast.operands:
                n = self._node(o)
                if n is None:
                    continue
                (neg if isinstance(n, _NegMark) else pos).append(
                    n.node if isinstance(n, _NegMark) else n
                )
            if not pos:
                if not neg:
                    return None
                # pure-negative group: EVERY exclusion must survive. must_not
                # excludes docs matching ANY entry, so N negations fold into
                # one OR-subtree (Lucene SimpleQueryParser marks each '-'
                # clause MUST_NOT regardless of the default operator).
                inner = neg[0] if len(neg) == 1 else Bool(should=tuple(neg), min_should=1)
                return _NegMark(inner)
            if ast.op == "and":
                return Bool(must=tuple(pos), must_not=tuple(neg))
            return Bool(should=tuple(pos), must_not=tuple(neg), min_should=1)
        raise TypeError(f"unknown AST node {ast!r}")


@dataclass(frozen=True)
class _NegMark:
    """Wrapper marking a compiled subtree as negated; absorbed into the
    enclosing group's must_not."""

    node: Node


def dictionary_expand(
    term_stats: DataFrame, prefix: str, max_expansions: int = 50
) -> list[str]:
    """Bounded vocabulary expansion for a prefix — ascending term order,
    capped (pinned-deterministic analog of the ES max_expansions=50 rewrite).
    The dictionary seek is a filtered scan returning ≤ max_expansions rows —
    the same bounded driver-side lookup shape as the term-dict seek (D2)."""
    rows = (
        term_stats.filter(F.col("term").startswith(prefix))
        .select("term")
        .orderBy("term")
        .limit(max_expansions)
        .collect()
    )
    return [r.term for r in rows]


def qs_search(
    tf: DataFrame,
    doc_stats: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    query: str,
    tf_positions: DataFrame | None = None,
    k: int = 10,
    default_operator: str = "or",
    max_expansions: int = 50,
    round_to: int | None = 4,
) -> DataFrame:
    """Parse + compile + score a simple_query_string → top-k (doc_id, score).

    tf_positions is only required when the query contains a multi-term
    phrase (the adjacency DocSet needs position lists)."""
    from .search import phrase_filter

    ast = parse_simple_query_string(query, default_operator)
    comp = _Compiler(
        lambda p: dictionary_expand(term_stats, p, max_expansions),
        default_operator,
    )
    tree = comp.compile(ast)
    docsets = {}
    for name, terms in comp.phrases.items():
        if tf_positions is None:
            raise ValueError("phrase query requires tf_positions")
        docsets[name] = phrase_filter(tf_positions, terms, slop=0).select("doc_id")
    return tree_search(
        tf, doc_stats, term_stats, n_docs, avgdl, tree,
        k=k, round_to=round_to, docsets=docsets or None,
    )


# ---------------------------------------------------------------------------
# full Lucene `query_string` grammar (SURVEY.md §2.D: D44) — the power-user
# superset of simple_query_string [public: ES query_string docs; Lucene
# classic QueryParser]: AND/OR/NOT (and &&/||/!) keyword operators,
# `field:value` filters over document metadata columns, `clause^N` score
# boosts, and `"..."~N` sloppy phrases. Compiled onto the same boolquery
# tree; the extras map to DocSet filter leaves (fields), Boost nodes
# (^N), and slop-carrying phrase DocSets.
#
# Pinned divergences (deterministic, documented):
#   * precedence OR < AND < NOT, juxtaposition = default operator — the
#     Lucene classic parser's actual behavior is famously NOT boolean-
#     algebraic (it keeps a running modifier state); this engine pins the
#     algebraic reading every ES client assumes;
#   * `field:value` is filter-context (matches, scores 0) — Lucene scores
#     constant 1·boost for it; filter-context is the ES best practice and
#     keeps metadata predicates out of the relevance sum;
#   * `+` requires its clause within an OR group (must) exactly like ES.


_QS_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<fieldphrase>[A-Za-z_][A-Za-z0-9_]*:"[^"]*"(?:~\d+)?(?:\^\d+(?:\.\d+)?)?)
      | (?P<phrase>"[^"]*"(?:~\d+)?(?:\^\d+(?:\.\d+)?)?)
      | (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<andop>AND\b|&&)
      | (?P<orop>OR\b|\|\|)
      | (?P<notop>NOT\b|!)
      | (?P<plus>\+)
      | (?P<minus>-)
      | (?P<word>(?:[^\s()"!+\-|&]|&(?!&)|\|(?!\|))(?:[^\s()"|&!]|&(?!&)|\|(?!\|))*)
    )""",
    re.VERBOSE,
)
# word excludes only the OPERATOR spellings (&&, ||, !) so unspaced operators
# (a||b, a&&b, a!b) lex as operators, never get swallowed into one word and
# silently replaced by the default operator. A single & or | is a term
# character in ANY position, leading included (&T, AT&T, a|b) via the (?!)
# lookaheads — only the doubled forms are operators, matching Lucene's
# classic grammar; the analyzer strips such punctuation downstream. `!` is
# an operator anywhere (Lucene NOT); a trailing `wow!` is a parse error
# there too. The andop/orop alternatives precede word, so a string STARTING
# with && or || still lexes as an operator.


@dataclass(frozen=True)
class _FieldTerm:
    """`field:value` — metadata filter leaf (filter context)."""

    field: str
    value: str


@dataclass(frozen=True)
class _Boosted:
    atom: "object"
    factor: float


@dataclass(frozen=True)
class _SlopPhrase:
    text: str
    slop: int


@dataclass(frozen=True)
class _FieldPhrase:
    """`field:"..."` — resolved at compile time: the analyzed text field
    gets phrase semantics, any other field is an explicit error (phrase
    positions only exist for analyzed text)."""

    field: str
    text: str
    slop: int


@dataclass(frozen=True)
class _Must:
    """`+atom` inside an OR group: required, still scores."""

    atom: "object"


_FIELD_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):(.+)$")
_BOOST_RE = re.compile(r"^(.+)\^(\d+(?:\.\d+)?)$")
_PHRASE_RE = re.compile(r'^"([^"]*)"(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?$')


def _lex_qs(q: str) -> list[tuple[str, str]]:
    return _lex(q, token_re=_QS_TOKEN_RE, label="query_string")


class _QSParser(_Parser):
    """The simple parser's precedence climbing (OR < AND, juxtaposition =
    default operator at its own level) over the query_string tokens:
    AND/&& and OR/|| are the operators; NOT/-/! and + are clause prefixes."""

    _OR_KIND = "orop"
    _AND_KIND = "andop"
    _ATOM_STARTS = (
        "phrase", "fieldphrase", "lparen", "minus", "notop", "plus", "word"
    )
    _LABEL = "query_string: "

    def atom(self):
        kind, text = self.next()
        if kind is None:
            raise ValueError("query_string: dangling operator at end of input")
        if kind in ("minus", "notop"):
            return _Neg(self.atom())
        if kind == "plus":
            return _Must(self.atom())
        if kind == "phrase":
            m = _PHRASE_RE.match(text)
            node = _SlopPhrase(m.group(1), int(m.group(2) or 0))
            if m.group(3):
                node = _Boosted(node, float(m.group(3)))
            return node
        if kind == "fieldphrase":
            field, rest = text.split(":", 1)
            m = _PHRASE_RE.match(rest)
            node = _FieldPhrase(field, m.group(1), int(m.group(2) or 0))
            if m.group(3):
                node = _Boosted(node, float(m.group(3)))
            return node
        if kind == "word":
            return self._word(text)
        if kind == "lparen":
            inner = self.or_expr()
            if self.next()[0] != "rparen":
                raise ValueError("query_string: unbalanced parenthesis")
            # group boost: `( ... )^2` lexes the ^2 as a following word
            nk, nt = self.peek()
            if nk == "word" and nt.startswith("^"):
                bm = re.match(r"^\^(\d+(?:\.\d+)?)$", nt)
                if bm:
                    self.next()
                    return _Boosted(_Group(inner), float(bm.group(1)))
            return _Group(inner)
        raise ValueError(f"query_string: unexpected token {(kind, text)!r}")

    def _word(self, text: str):
        bm = _BOOST_RE.match(text)
        boost = None
        if bm:
            text, boost = bm.group(1), float(bm.group(2))
        if re.match(r"^[A-Za-z_][A-Za-z0-9_]*:$", text):
            # `field:` with nothing attached — refuse loudly instead of
            # silently searching for the literal token 'field'
            raise ValueError(f"query_string: field {text!r} needs a value")
        fm = _FIELD_RE.match(text)
        if fm:
            node: object = _FieldTerm(fm.group(1), fm.group(2))
        elif text.endswith("*") and len(text) > 1:
            node = _Prefix(text[:-1])
        else:
            node = _Word(text)
        return _Boosted(node, boost) if boost is not None else node


def parse_query_string(q: str, default_operator: str = "or"):
    """Full query_string → parser AST (compile with _QSCompiler)."""
    toks = _lex_qs(q)
    if not toks:
        raise ValueError("empty query_string")
    return _QSParser(toks, default_operator).parse()


class _QSCompiler(_Compiler):
    """Extends the simple compiler with field filters (DocSet leaves,
    resolved against metadata columns), boosts, slop phrases, and `+`
    must-marking inside OR groups."""

    def __init__(self, expand, default_operator: str, text_field: str = "text"):
        super().__init__(expand, default_operator)
        self.text_field = text_field
        self.fields: dict[str, tuple[str, str]] = {}  # DocSet name -> (col, value)
        self.slop: dict[str, int] = {}  # phrase DocSet name -> slop

    def _node(self, ast):
        from .boolquery import Bool, Boost, DocSet, Term

        if isinstance(ast, _FieldTerm):
            if ast.field == self.text_field:
                # text:dat* keeps prefix semantics (tokenize would strip
                # the '*' and silently demote it to an exact term)
                if ast.value.endswith("*") and len(ast.value) > 1:
                    return self._node(_Prefix(ast.value[:-1]))
                return super()._node(_Word(ast.value))
            name = f"field_{len(self.fields)}"
            self.fields[name] = (ast.field, ast.value)
            return DocSet(name)
        if isinstance(ast, _FieldPhrase):
            if ast.field != self.text_field:
                raise ValueError(
                    f"query_string: phrase on field {ast.field!r} unsupported "
                    f"(positions only exist for the analyzed "
                    f"{self.text_field!r} field)"
                )
            ast = _SlopPhrase(ast.text, ast.slop)
        if isinstance(ast, _SlopPhrase):
            toks = tokenize(ast.text)
            if not toks:
                return None
            if len(toks) == 1:
                return Term(toks[0])
            name = f"phrase_{len(self.phrases)}"
            self.phrases[name] = toks
            self.slop[name] = ast.slop
            return Bool(must=tuple(Term(t) for t in toks), filter=(DocSet(name),))
        if isinstance(ast, _Boosted):
            inner = self._node(ast.atom)
            if inner is None:
                return None
            if isinstance(inner, _NegMark):
                return inner  # boosting an excluded clause is a no-op
            return Boost(inner, ast.factor)
        if isinstance(ast, _Must):
            # only meaningful inside _Op('or', ...), handled there; a bare
            # `+atom` at the top is just the atom
            return self._node(ast.atom)
        if isinstance(ast, _Op) and ast.op == "or":
            must, pos, neg = [], [], []
            for o in ast.operands:
                is_must = isinstance(o, _Must)
                n = self._node(o.atom if is_must else o)
                if n is None:
                    continue
                if isinstance(n, _NegMark):
                    neg.append(n.node)
                elif is_must:
                    must.append(n)
                else:
                    pos.append(n)
            if not must and not pos:
                if not neg:
                    return None
                inner = (
                    neg[0] if len(neg) == 1 else Bool(should=tuple(neg), min_should=1)
                )
                return _NegMark(inner)
            if not pos:
                return Bool(must=tuple(must), must_not=tuple(neg))
            # ES: with must present, should min defaults to 0
            return Bool(
                must=tuple(must),
                should=tuple(pos),
                must_not=tuple(neg),
                min_should=0 if must else 1,
            )
        return super()._node(ast)


def full_qs_search(
    tf: DataFrame,
    doc_stats: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    query: str,
    docs: DataFrame | None = None,
    tf_positions: DataFrame | None = None,
    k: int = 10,
    default_operator: str = "or",
    max_expansions: int = 50,
    round_to: int | None = 4,
) -> DataFrame:
    """Parse + compile + score a full query_string → top-k (doc_id, score).

    `docs` supplies the metadata columns for `field:value` filters (each
    becomes a column-pruned doc-id side resolved as a DocSet leaf — at scale
    this is a scan predicate over the doc store, pushed to parquet).
    `tf_positions` is required for multi-term phrases."""
    from .boolquery import tree_search
    from .search import phrase_filter

    ast = parse_query_string(query, default_operator)
    comp = _QSCompiler(
        lambda p: dictionary_expand(term_stats, p, max_expansions),
        default_operator,
    )
    tree = comp.compile(ast)
    docsets: dict[str, DataFrame] = {}
    for name, terms in comp.phrases.items():
        if tf_positions is None:
            raise ValueError("phrase query requires tf_positions")
        docsets[name] = phrase_filter(
            tf_positions, terms, slop=comp.slop.get(name, 0)
        ).select("doc_id")
    for name, (col, value) in comp.fields.items():
        if docs is None:
            raise ValueError(f"field filter {col}:{value} requires the docs frame")
        if value.endswith("*") and len(value) > 1:
            # metadata trailing-* = keyword prefix filter (Lucene wildcard
            # on an unanalyzed field), not a literal '*' character match
            pred = F.col(col).startswith(value[:-1])
        else:
            pred = F.col(col) == value
        docsets[name] = docs.filter(pred).select("doc_id")
    return tree_search(
        tf, doc_stats, term_stats, n_docs, avgdl, tree,
        k=k, round_to=round_to, docsets=docsets or None,
    )


def render_search_template(template: str, params: dict[str, str]) -> str:
    """ES search template rendering [public: ES search-template docs],
    mustache-subset: `{{name}}` substitutes params[name]; a missing param
    raises (ES renders empty — pinned stricter here so a typo'd template
    fails loudly instead of silently matching nothing). The rendered string
    feeds any query parser; rendering is driver-side O(|template|)."""

    def _sub(m: "re.Match[str]") -> str:
        key = m.group(1).strip()
        if key not in params:
            raise KeyError(f"search template param missing: {key!r}")
        return str(params[key])

    return re.sub(r"\{\{([^{}]+)\}\}", _sub, template)
