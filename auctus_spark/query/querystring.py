"""ES ``query_string`` / ``simple_query_string`` mini-languages,
compiled to ONE literal-folded scoring scan over the document table.

Both parsers produce the same tiny AST (leaves + boolean nodes) and
share one compiler, which emits a (match-condition, score) expression
pair per node:

* **term** — BM25 contribution (Lucene k1=1.2, b=0.75; idf folded to a
  float64 literal driver-side like the rest of the pipeline); matches
  when tf > 0.
* **phrase** ``"w1 w2"`` — exact consecutive occurrence count over the
  token array (JVM ``aggregate`` over a position ``sequence`` — no
  explode, no Python); scored like the positional engine's contract:
  ``(Σ term idf) · tf_norm(phrase_freq, dl, avgdl)``.
* **keyword field** ``lang:de`` — Lucene-exact BM25 on a single-token
  keyword field: tf = 1, dl = avgdl = 1 ⇒ ``idf / (1 + k1)`` with the
  field's own df/N.
* **wildcard / prefix** ``ter*`` / ``t?rm`` — matches when any token
  matches the pattern; constant score ``1.0 · boost`` (Lucene's
  default constant-score multi-term rewrite).
* **bool** — AND / OR with Lucene occur semantics: required (``+`` /
  AND / all-must), optional (OR siblings — pure scoring once any
  required clause exists), prohibited (``-`` / NOT).  Score is the sum
  of matching positive clauses' scores; prohibited clauses only
  filter.

Supported surface, per grammar (documented divergences from ES in
brackets):

* ``query_string``: ``AND OR NOT``, ``+`` / ``-`` prefix operators,
  parentheses, ``"quoted phrases"``, ``field:term`` for the text field
  and keyword fields, trailing/inner ``*``/``?`` wildcards on the text
  field, ``^boost`` on any clause.  [No fuzziness ``~``, no phrase
  slop ``"…"~N``, no regex ``/…/``, no ranges — the dedicated engine
  surfaces (fuzzy / sloppy phrase / regexp) cover those.]
* ``simple_query_string``: infix ``+`` (AND) and ``|`` (OR), prefix
  ``-`` (NOT), parentheses, quoted phrases, trailing ``*`` prefix
  queries.  ``|`` binds looser than ``+``; it NEVER raises — any
  malformed syntax degrades to plain terms (the ES contract).

Plan shape (the pipeline contract): one stats aggregate (N, avgdl,
per-term df, per-keyword df — a single reduce, no shuffle), then one
scoring scan with the boolean condition as the filter and the score
as a literal-folded expression; global top-k is TakeOrdered.  At
100 TB this is the same two-scan/zero-shuffle shape as ``bm25_topk``.

Reference: ES query-string-query / simple-query-string-query docs;
reference repo has no query language (keyword-only search
``apiserver/search/__init__.py:57-109``) — beyond-ref ES parity.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as _field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import B, K1, TOP_K_SIZE
from ..analysis import analyze_query, tokenize
from ..oracle import bm25_idf
from ..pipeline import _no_hits, _toks, _top_k
from ..session import no_rows


# ---------------------------------------------------------------- AST

@dataclass
class Leaf:
    kind: str                 # 'term' | 'phrase' | 'wildcard' | 'field'
    words: list[str]          # term:[w]  phrase:[w..]  wildcard:[pat]
    field: str | None = None  # keyword field name (kind='field')
    boost: float = 1.0


@dataclass
class Bool:
    op: str                   # 'and' | 'or'
    children: list = _field(default_factory=list)
    boost: float = 1.0


@dataclass
class Not:
    child: object


@dataclass
class Req:
    child: object


# ------------------------------------------------------------- lexers

_QS_TOKEN = re.compile(
    r'"[^"]*"|\(|\)|\^[0-9.]+|\bAND\b|\bOR\b|\bNOT\b|\+|-|[^\s()^+\-]+')
_SQS_TOKEN = re.compile(r'"[^"]*"|\(|\)|\||\+|-|[^\s()|+\-]+')


def _lex(query: str, pattern: re.Pattern) -> list[str]:
    return pattern.findall(query or "")


# ------------------------------------------------- shared parser core

class _Parser:
    """Recursive descent over a token list.  ``or_toks``/``and_toks``
    are the infix operator spellings; ``not_toks``/``req_toks`` the
    prefix ones.  Adjacent clauses bind with ``default_op``."""

    def __init__(self, toks: list[str], *, or_toks, and_toks,
                 not_toks, req_toks, default_op: str,
                 keyword_fields: tuple[str, ...],
                 default_field: str, allow_boost: bool):
        self.toks = toks
        self.i = 0
        self.or_toks, self.and_toks = or_toks, and_toks
        self.not_toks, self.req_toks = not_toks, req_toks
        self.default_op = default_op
        self.keyword_fields = keyword_fields
        self.default_field = default_field
        self.allow_boost = allow_boost

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self):
        t = self.peek()
        self.i += 1
        return t

    def parse(self):
        node = self.parse_or()
        return node

    def parse_or(self):
        parts = [self.parse_and()]
        while True:
            t = self.peek()
            if t in self.or_toks:
                self.take()
                parts.append(self.parse_and())
            elif (t is not None and t != ")"
                  and self.default_op == "or"
                  and t not in self.and_toks):
                parts.append(self.parse_and())
            else:
                break
        parts = [p for p in parts if p is not None]
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else Bool("or", parts)

    def parse_and(self):
        parts = [self.parse_unary()]
        while True:
            t = self.peek()
            if t in self.and_toks:
                self.take()
                parts.append(self.parse_unary())
            elif (t is not None and t != ")"
                  and self.default_op == "and"
                  and t not in self.or_toks):
                parts.append(self.parse_unary())
            else:
                break
        parts = [p for p in parts if p is not None]
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else Bool("and", parts)

    def parse_unary(self):
        t = self.peek()
        if t in self.not_toks:
            self.take()
            c = self.parse_unary()
            return Not(c) if c is not None else None
        if t in self.req_toks:
            self.take()
            c = self.parse_unary()
            return Req(c) if c is not None else None
        return self.parse_primary()

    def _boost(self, node):
        t = self.peek()
        if (self.allow_boost and node is not None and t
                and t.startswith("^")):
            self.take()
            try:
                b = float(t[1:])
            except ValueError:
                return node
            if isinstance(node, (Leaf, Bool)):
                node.boost *= b
        return node

    def parse_primary(self):
        t = self.peek()
        if t is None or t == ")":
            return None
        if t == "(":
            self.take()
            node = self.parse_or()
            if self.peek() == ")":
                self.take()
            return self._boost(node)
        self.take()
        if t.startswith('"'):
            # raw tokenize (NOT analyze_query): phrases keep duplicate
            # words and their order
            words = list(tokenize(t.strip('"')))
            if not words:
                return None
            node = Leaf("phrase", words) if len(words) > 1 \
                else Leaf("term", words)
            return self._boost(node)
        field = None
        if ":" in t:
            f, rest = t.split(":", 1)
            if f in self.keyword_fields:
                return self._boost(Leaf("field", [rest], field=f))
            if f == self.default_field:
                t = rest
        if "*" in t or "?" in t:
            pat = t.lower()
            return self._boost(Leaf("wildcard", [pat]))
        words = analyze_query(t)
        if not words:
            return None
        node = (Leaf("term", words) if len(words) == 1
                else Bool(self.default_op,
                          [Leaf("term", [w]) for w in words]))
        return self._boost(node)


def parse_query_string(query: str, *, default_operator: str = "or",
                       keyword_fields: tuple[str, ...] = (),
                       default_field: str = "text"):
    p = _Parser(_lex(query, _QS_TOKEN),
                or_toks=("OR",), and_toks=("AND",),
                not_toks=("NOT", "-"), req_toks=("+",),
                default_op=default_operator,
                keyword_fields=keyword_fields,
                default_field=default_field, allow_boost=True)
    return p.parse()


def parse_simple_query_string(query: str, *,
                              default_operator: str = "or",
                              keyword_fields: tuple[str, ...] = (),
                              default_field: str = "text"):
    # simple_query_string: '+' is INFIX and, '|' infix or, '-' prefix
    p = _Parser(_lex(query, _SQS_TOKEN),
                or_toks=("|",), and_toks=("+",),
                not_toks=("-",), req_toks=(),
                default_op=default_operator,
                keyword_fields=keyword_fields,
                default_field=default_field, allow_boost=False)
    return p.parse()


# ----------------------------------------------------------- compiler

def _collect_leaves(node, terms: set, fields: set):
    if node is None:
        return
    if isinstance(node, Leaf):
        if node.kind in ("term", "phrase"):
            terms.update(node.words)
        elif node.kind == "field":
            fields.add((node.field, node.words[0]))
    elif isinstance(node, Bool):
        for c in node.children:
            _collect_leaves(c, terms, fields)
    elif isinstance(node, (Not, Req)):
        _collect_leaves(node.child, terms, fields)


def _stats(docs: DataFrame, terms: list[str],
           fields: list[tuple[str, str]], text_col: str):
    """ONE aggregate scan: N, avgdl, df per text term, df per keyword
    (field, value) pair."""
    t = docs.select(_toks(F.col(text_col)).alias("_toks"),
                    *[F.col(f).alias(f"_kw{i}")
                      for i, (f, _) in enumerate(fields)])
    aggs = [F.count("*").alias("_n"),
            F.sum(F.size("_toks")).alias("_t")]
    for i, term in enumerate(terms):
        aggs.append(F.sum(
            F.when(F.array_contains("_toks", term), 1).otherwise(0))
            .alias(f"_df{i}"))
    for i, (_, v) in enumerate(fields):
        aggs.append(F.sum(
            F.when(F.col(f"_kw{i}") == v, 1).otherwise(0))
            .alias(f"_kdf{i}"))
    row = t.agg(*aggs).collect()[0]
    n = int(row["_n"])
    avgdl = (float(row["_t"]) / n
             if n and row["_t"] is not None else 0.0)
    term_df = {term: int(row[f"_df{i}"])
               for i, term in enumerate(terms)}
    field_df = {fv: int(row[f"_kdf{i}"])
                for i, fv in enumerate(fields)}
    return n, avgdl, term_df, field_df


def _tf_of(term: str):
    return F.size(F.filter(F.col("_toks"),
                           lambda x: x == F.lit(term)))


def _phrase_freq(words: list[str]):
    """Exact consecutive-occurrence count over the token array —
    aggregate over start positions, all JVM expressions."""
    n = len(words)
    def hit(i):
        c = None
        for j, w in enumerate(words):
            e = (F.element_at(F.col("_toks"),
                              (i + F.lit(j + 1)).cast("int"))
                 == F.lit(w))
            c = e if c is None else c & e
        return F.when(c, F.lit(1)).otherwise(F.lit(0))
    agg = F.aggregate(
        F.sequence(F.lit(0), F.size("_toks") - F.lit(n)),
        F.lit(0), lambda acc, i: acc + hit(i))
    return F.when(F.size("_toks") >= n, agg).otherwise(F.lit(0))


class _Compiler:
    def __init__(self, n_docs: int, avgdl: float,
                 term_df: dict, field_df: dict):
        self.n = n_docs
        self.avgdl = avgdl
        self.term_df = term_df
        self.field_df = field_df
        self.norm = (F.lit(K1) * (F.lit(1.0 - B) + F.lit(B)
                                  * F.col("_dl") / F.lit(avgdl or 1.0)))

    def _tf_norm(self, tf):
        return tf / (tf + self.norm)

    def compile(self, node):
        """→ (cond Column, score Column); score is 0.0 where the node
        doesn't match."""
        if isinstance(node, Leaf):
            return self._leaf(node)
        if isinstance(node, Not):
            cond, _ = self.compile(node.child)
            return ~cond, F.lit(0.0)
        if isinstance(node, Req):
            return self.compile(node.child)
        if isinstance(node, Bool):
            return self._bool(node)
        raise TypeError(f"unknown node {node!r}")

    def _leaf(self, node: Leaf):
        b = node.boost
        if node.kind == "term":
            t = node.words[0]
            idf = bm25_idf(self.n, self.term_df[t])
            tf = _tf_of(t).cast("double")
            return tf > 0, F.lit(b * idf) * self._tf_norm(tf)
        if node.kind == "phrase":
            idf = sum(bm25_idf(self.n, self.term_df[w])
                      for w in node.words)
            pf = _phrase_freq(node.words).cast("double")
            return pf > 0, F.lit(b * idf) * self._tf_norm(pf)
        if node.kind == "field":
            fv = (node.field, node.words[0])
            idf = bm25_idf(self.n, self.field_df[fv])
            cond = F.col(node.field) == node.words[0]
            # keyword field: tf=1, dl=avgdl=1 -> idf / (1 + k1)
            score = F.when(cond, F.lit(b * idf / (1.0 + K1))) \
                .otherwise(F.lit(0.0))
            return cond, score
        if node.kind == "wildcard":
            pat = (node.words[0].replace("\\", "\\\\")
                   .replace("%", "\\%").replace("_", "\\_")
                   .replace("*", "%").replace("?", "_"))
            cond = F.exists(F.col("_toks"),
                            lambda x: x.like(pat))
            return cond, F.when(cond, F.lit(b)).otherwise(F.lit(0.0))
        raise ValueError(f"unknown leaf kind {node.kind!r}")

    def _bool(self, node: Bool):
        req, excl, opt = [], [], []
        for c in node.children:
            if isinstance(c, Not):
                excl.append(self.compile(c.child))
            elif isinstance(c, Req):
                req.append(self.compile(c.child))
            elif node.op == "and":
                req.append(self.compile(c))
            else:
                opt.append(self.compile(c))
        def all_of(conds):
            out = None
            for c in conds:
                out = c if out is None else out & c
            return out
        pos = None
        if req:
            pos = all_of([c for c, _ in req])
        if opt and not req:
            o = None
            for c, _ in opt:
                o = c if o is None else o | c
            pos = o
        cond = pos if pos is not None else F.lit(True)
        for c, _ in excl:
            cond = cond & ~c
        score = F.lit(0.0)
        for c, s in req:
            score = score + s
        for c, s in opt:
            score = score + F.when(c, s).otherwise(F.lit(0.0))
        if node.boost != 1.0:
            score = score * F.lit(node.boost)
        return cond, score


def _run(docs: DataFrame, ast, k: int, id_col: str, text_col: str,
         round_to: int | None) -> DataFrame:
    if ast is None:
        return _no_hits(docs, id_col)
    terms, fields = set(), set()
    _collect_leaves(ast, terms, fields)
    n, avgdl, term_df, field_df = _stats(
        docs, sorted(terms), sorted(fields), text_col)
    if n == 0:
        return _no_hits(docs, id_col)
    comp = _Compiler(n, avgdl, term_df, field_df)
    carry = sorted({f for f, _ in field_df})
    per_doc = docs.select(F.col(id_col).alias("doc_id"), *carry,
                          _toks(F.col(text_col)).alias("_toks")) \
        .withColumn("_dl", F.size("_toks"))
    cond, score = comp.compile(ast)
    return _top_k(per_doc.filter(cond), score, k, id_col, round_to)


def query_string_topk(docs: DataFrame, query: str, k: int = TOP_K_SIZE,
                      default_operator: str = "or",
                      keyword_fields: tuple[str, ...] = ("lang",
                                                         "source"),
                      id_col: str = "doc_id", text_col: str = "text",
                      round_to: int | None = 6) -> DataFrame:
    """ES ``query_string`` top-k over a document table (grammar and
    scoring contract in the module docstring)."""
    ast = parse_query_string(query, default_operator=default_operator,
                             keyword_fields=keyword_fields,
                             default_field=text_col)
    return _run(docs, ast, k, id_col, text_col, round_to)


def simple_query_string_topk(docs: DataFrame, query: str,
                             k: int = TOP_K_SIZE,
                             default_operator: str = "or",
                             keyword_fields: tuple[str, ...] = (
                                 "lang", "source"),
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             round_to: int | None = 6) -> DataFrame:
    """ES ``simple_query_string`` top-k — never raises on syntax."""
    ast = parse_simple_query_string(
        query, default_operator=default_operator,
        keyword_fields=keyword_fields, default_field=text_col)
    return _run(docs, ast, k, id_col, text_col, round_to)


# --------------------------------------------- percolate (reverse search)

def _match_cond(node):
    """Condition-only compile of a parsed query AST — no statistics,
    no scores (percolation needs membership, not ranking).  Mirrors
    the occur semantics of :class:`_Compiler`."""
    if isinstance(node, Leaf):
        if node.kind == "term":
            return _tf_of(node.words[0]) > 0
        if node.kind == "phrase":
            return _phrase_freq(node.words) > 0
        if node.kind == "field":
            return F.col(node.field) == node.words[0]
        if node.kind == "wildcard":
            pat = (node.words[0].replace("\\", "\\\\")
                   .replace("%", "\\%").replace("_", "\\_")
                   .replace("*", "%").replace("?", "_"))
            return F.exists(F.col("_toks"), lambda x: x.like(pat))
        raise ValueError(f"unknown leaf kind {node.kind!r}")
    if isinstance(node, Not):
        return ~_match_cond(node.child)
    if isinstance(node, Req):
        return _match_cond(node.child)
    if isinstance(node, Bool):
        req, excl, opt = [], [], []
        for c in node.children:
            if isinstance(c, Not):
                excl.append(_match_cond(c.child))
            elif isinstance(c, Req) or node.op == "and":
                req.append(_match_cond(c.child
                                       if isinstance(c, Req) else c))
            else:
                opt.append(_match_cond(c))
        cond = None
        for c in req:
            cond = c if cond is None else cond & c
        if cond is None and opt:
            for c in opt:
                cond = c if cond is None else cond | c
        if cond is None:
            cond = F.lit(True)
        for c in excl:
            cond = cond & ~c
        return cond
    raise TypeError(f"unknown node {node!r}")


def percolate(docs: DataFrame, queries: list[tuple[int, str]],
              grammar: str = "simple",
              keyword_fields: tuple[str, ...] = ("lang", "source"),
              id_col: str = "doc_id", text_col: str = "text"
              ) -> DataFrame:
    """ES ``percolate`` query, corpus-scale form: match every document
    against a set of REGISTERED queries and emit (doc_id, query_id)
    pairs.  ES percolates one incoming doc against a query index;
    the Spark framing inverts the loop — the registered queries
    compile to broadcast-free JVM boolean expressions evaluated in
    ONE pass over the corpus (the routing/subscription primitive of
    a training-data pipeline).  ``grammar`` picks the registered
    queries' syntax: 'simple' (simple_query_string — never raises,
    the ES-recommended percolator surface) or 'query_string'.

    Plan: one scan; per row an array of matched query ids
    (``when(cond_i, id_i)``) is built and exploded — no join, no
    shuffle; output order (query_id, doc_id).  Scale contract: each
    registered query adds one boolean expression to the projection —
    batch the scan per ~few hundred queries when registering
    thousands (whole-stage codegen method-size limit), each batch
    remaining one independent scan."""
    parse = (parse_simple_query_string if grammar == "simple"
             else parse_query_string)
    compiled = []
    for qid, qs in queries:
        ast = parse(qs, keyword_fields=keyword_fields,
                    default_field=text_col)
        if ast is not None:
            compiled.append((int(qid), _match_cond(ast)))
    if not compiled:
        return no_rows(docs.sparkSession, f"query_id long, {id_col} long")
    carry = [f for f in keyword_fields if f in docs.columns]
    per = docs.select(F.col(id_col).alias("doc_id"), *carry,
                      _toks(F.col(text_col)).alias("_toks"))
    matches = F.array_compact(F.array(
        *[F.when(cond, F.lit(qid)).otherwise(F.lit(None))
          for qid, cond in compiled]))
    # no orderBy: pairs are set-semantics output (consumers sort or
    # aggregate); keeps the plan one scan + explode, zero shuffles
    return (per.select("doc_id",
                       F.explode(matches).alias("query_id"))
            .select(F.col("query_id").cast("long"),
                    F.col("doc_id").alias(id_col)))


def render_search_template(template: str, params: dict) -> str:
    """ES *search template* rendering (the mustache subset search
    templates actually use): ``{{var}}`` substitution, ``{{#var}}…
    {{/var}}`` conditional sections (kept when the param is truthy,
    with inner ``{{var}}`` expansion) and ``{{^var}}…{{/var}}``
    inverted sections (kept when the param is falsy/absent).  Missing
    plain variables render empty, like mustache.

    Rendering is driver-side string work on a ~1 KB template — the
    rendered query then runs through the normal compilers
    (query_string_topk, bm25_topk, …), so templates add zero cost to
    the distributed plan."""
    import re as _re

    def _section(m):
        neg, name, body = m.group(1) == "^", m.group(2), m.group(3)
        val = params.get(name)
        keep = (not val) if neg else bool(val)
        return body if keep else ""

    out = _re.sub(r"\{\{([#^])(\w+)\}\}(.*?)\{\{/\2\}\}",
                  _section, template, flags=_re.DOTALL)
    out = _re.sub(r"\{\{(\w+)\}\}",
                  lambda m: str(params.get(m.group(1), "")), out)
    return out
