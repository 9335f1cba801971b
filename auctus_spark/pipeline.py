"""Index-free DataFrame-native query pipeline.

The segment index (``auctus_spark.index``) is the scale path; this
module expresses the same BM25 semantics as declarative DataFrame
plans over a raw document table.  It is the anchor used by the driver
correctness gate (DuckDB oracle) and by ``entry()``; the index path
must return identical results.

Plan shape (the 100-TB contract): every query here is exactly TWO
corpus scans and ZERO shuffles —

1. **stats pass** — one aggregate computing global N, total tokens
   (avgdl) and per-query-term df in a single projection over the
   tokenized array (no explode, no groupBy-by-term shuffle).  The
   result is one row, collected; idf is folded into float64 literals
   driver-side with the exact ``math.log`` evaluation the oracle uses.
2. **scoring pass** — one projection computing per-doc (dl, tf per
   term) from the same tokenized array, a conjunctive filter, a
   literal-folded score expression, and a global top-k that compiles
   to TakeOrderedAndProject (no global sort, no exchange).

The BM25 rankings share these two passes instead of re-typing them:
:func:`_bm25_scan` is the stats pass plus the scoring scan's candidate
filter and (doc_id, carried columns, _dl, _tf{i}) projection (one
field), :func:`_fields_scan` the same for the multi-field rankings,
:func:`_score_expr` the only BM25 sum and :func:`_top_k` the ranked
tail.  An answer with nothing to look up is an empty local relation
(``session.no_rows``), so collecting it runs no Spark job.

Tokenization stays inside whole-stage codegen (``split``/``filter``
array expressions); Catalyst keeps the token array materialized once
per row (non-cheap aliases used more than once are not collapsed —
asserted in ``tests/test_plans.py``).

Semantics mirror the reference's keyword search
(``apiserver/apiserver/search/__init__.py:57-109``): conjunctive AND,
Lucene BM25 (k1=1.2, b=0.75), top-k 50, (score desc, id asc) tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import B, K1, TOP_K_SIZE
from .analysis import SPLIT_PATTERN, analyze_query
from .oracle import bm25_idf
from .session import no_rows

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def _ascii_lower(col):
    """ASCII-only lowering (the analyzer contract, analysis.py):
    F.translate instead of F.lower so exotic unicode case mappings
    can't diverge from the oracle."""
    return F.translate(col, _UPPER, _LOWER)


def _toks(col):
    """Tokenized array column: ascii-lower → maximal token runs.
    ``regexp_extract_all`` returns exactly the arrays the historical
    split+drop-empties form did (see analysis.spark_token_runs for the
    equivalence proof and the measured ~10x: StringSplit re-compiles
    its pattern per row and the higher-order filter forces interpreted
    eval)."""
    from .analysis import spark_token_runs
    return spark_token_runs(_ascii_lower(col))


def tokens(docs: DataFrame, id_col: str = "doc_id",
           text_col: str = "text") -> DataFrame:
    """(id, term) pairs — one row per token occurrence."""
    return (docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_toks(F.col(text_col))).alias("term")))


def doc_lengths_df(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    return (docs.select(F.col(id_col).alias("doc_id"),
                        F.size(_toks(F.col(text_col))).alias("dl")))


def corpus_stats(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> tuple[int, float]:
    """Global (N, avgdl) — N counts ALL docs (zero-token docs included),
    avgdl = total tokens / N, matching the index build's discipline."""
    row = (docs.select(F.size(_toks(F.col(text_col))).alias("dl"))
           .agg(F.count("*").alias("n"), F.sum("dl").alias("t"))
           .collect()[0])
    n = int(row["n"])
    return n, (float(row["t"]) / n if n else 0.0)


def _query_stats(docs: DataFrame, terms: list[str], text_col: str
                 ) -> tuple[int, float, list[int]]:
    """ONE aggregate scan: (N, avgdl, df per query term)."""
    t = docs.select(_toks(F.col(text_col)).alias("_toks"))
    aggs = [F.count("*").alias("_n"), F.sum(F.size("_toks")).alias("_t")]
    for i, term in enumerate(terms):
        aggs.append(F.sum(
            F.when(F.array_contains("_toks", term), 1).otherwise(0))
            .alias(f"_df{i}"))
    row = t.agg(*aggs).collect()[0]
    n = int(row["_n"])
    avgdl = float(row["_t"]) / n if n and row["_t"] is not None else 0.0
    dfs = [int(row[f"_df{i}"]) for i in range(len(terms))]
    return n, avgdl, dfs


def _tf(i: int, term: str):
    return F.size(F.filter(F.col("_toks"), lambda x: x == F.lit(term))) \
        .alias(f"_tf{i}")


def _bm25_term(w: float, tf_col: str, dl_col: str, avgdl: float):
    """One term's literal-folded contribution ``w * (tf / (tf + k1 *
    (1 - b + b * dl / avgdl)))`` — the oracle's float64 evaluation
    order."""
    tf = F.col(tf_col)
    norm = F.lit(K1) * (F.lit(1.0 - B) +
                        F.lit(B) * F.col(dl_col) / F.lit(avgdl))
    return F.lit(w) * (tf / (tf + norm))


def _score_expr(idfs: list[float], avgdl: float,
                cols: list[int] | None = None):
    """Literal-folded BM25 sum over the ``_tf{i}`` columns ``cols``
    (default: every one, in order) weighted by ``idfs``, in query-term
    order — the float64 evaluation order is the oracle's: idf * (tf /
    (tf + k1*(1-b+b*dl/avgdl))), summed left-associatively.  tf=0
    contributes +0.0 exactly, so disjunctive scoring needs no
    conditionals.  None for no terms."""
    score = None
    for w, i in zip(idfs, range(len(idfs)) if cols is None else cols):
        c = _bm25_term(w, f"_tf{i}", "_dl", avgdl)
        score = c if score is None else score + c
    return score


def _bm25_scan(docs: DataFrame, terms: list[str], id_col: str,
               text_col: str, conjunctive: bool,
               carry: dict | None = None, derived: list = ()):
    """The front half of every single-field BM25 ranking: the stats
    pass (:func:`_query_stats`), then ONE scoring scan — the candidate
    predicate evaluated at the scan (``conjunctive``: every term
    present; else any) and the (doc_id, carried columns, _dl, derived
    columns, _tf{i}) projection of the survivors.  A tf-column filter
    would be pushed below the projection and inline the tokenization
    once per term, so survivors only reach the tf projection.
    ``carry`` maps names to columns of the raw row; ``derived`` are
    aliased columns over the token array ``_toks``.

    Returns (per_doc, idfs, avgdl), or None when nothing can match."""
    if not terms:
        return None
    n_docs, avgdl, dfs = _query_stats(docs, terms, text_col)
    if n_docs == 0 or (any if conjunctive else all)(d == 0 for d in dfs):
        return None
    carry = carry or {}
    qarr = F.array(*[F.lit(t) for t in terms])
    cond = (F.size(F.array_intersect(_toks(F.col(text_col)), qarr))
            == len(terms) if conjunctive
            else F.arrays_overlap(_toks(F.col(text_col)), qarr))
    per_doc = (docs.filter(cond)
               .select(F.col(id_col).alias("doc_id"),
                       *[c.alias(n) for n, c in carry.items()],
                       _toks(F.col(text_col)).alias("_toks"))
               .select("doc_id", *carry, F.size("_toks").alias("_dl"),
                       *derived,
                       *[_tf(i, t) for i, t in enumerate(terms)]))
    return per_doc, [bm25_idf(n_docs, d) for d in dfs], avgdl


def _fields_scan(docs: DataFrame, terms: list[str], fields: list[str],
                 id_col: str):
    """The front half of the multi-field rankings: ONE stats aggregate
    over every field (per field: docs with the field, total tokens,
    df per term), then ONE scoring scan over the fields that occur,
    with the candidate predicate (every term in >= 1 field) at the
    scan and columns (doc_id, _dl{j}, _tf{j}_{i}).

    Returns (per_doc, live) with live = [(j, field, N_f, avgdl_f, df
    per term)], or None when nothing can match."""
    if not terms:
        return None
    stats_in = docs.select(*[
        _toks(F.col(fc)).alias(f"_toks_{j}") for j, fc in enumerate(fields)])
    aggs = []
    for j, fc in enumerate(fields):
        tk = f"_toks_{j}"
        aggs.append(F.count(F.col(tk)).alias(f"_n{j}"))      # non-null docs
        aggs.append(F.sum(F.size(tk)).alias(f"_t{j}"))
        for i, term in enumerate(terms):
            aggs.append(F.sum(
                F.when(F.array_contains(tk, term), 1).otherwise(0))
                .alias(f"_df{j}_{i}"))
    row = stats_in.agg(*aggs).collect()[0]
    live = []
    for j, fc in enumerate(fields):
        n_f = int(row[f"_n{j}"])
        if n_f == 0:
            continue
        avgdl_f = float(row[f"_t{j}"]) / n_f if row[f"_t{j}"] else 0.0
        live.append((j, fc, n_f, avgdl_f,
                     [int(row[f"_df{j}_{i}"]) for i in range(len(terms))]))
    # AND: a term absent from every field empties the result
    if not live or any(all(entry[4][i] == 0 for entry in live)
                       for i in range(len(terms))):
        return None

    qarr = F.array(*[F.lit(t) for t in terms])
    empty_arr = F.array().cast("array<string>")
    seen = None
    for j, fc, *_ in live:
        inter = F.coalesce(F.array_intersect(_toks(F.col(fc)), qarr),
                           empty_arr)
        seen = inter if seen is None else F.array_union(seen, inter)
    cond = F.size(seen) == len(terms)  # every term in >= 1 field
    per_doc = docs.filter(cond).select(
        F.col(id_col).alias("doc_id"),
        *[_toks(F.col(fc)).alias(f"_toks_{j}") for j, fc, *_ in live])
    cols = ["doc_id"]
    for j, fc, *_ in live:
        tk = f"_toks_{j}"
        cols.append(F.coalesce(F.size(tk), F.lit(0)).alias(f"_dl{j}"))
        for i, term in enumerate(terms):
            cols.append(F.coalesce(
                F.size(F.filter(F.col(tk), lambda x: x == F.lit(term))),
                F.lit(0)).alias(f"_tf{j}_{i}"))
    return per_doc.select(*cols), live


def _rounded(score, round_to: int | None):
    return score if round_to is None else F.round(score, round_to)


def _top_k(df: DataFrame, score, k: int, id_col: str,
           round_to: int | None = None, cols: list = (),
           src: str = "doc_id") -> DataFrame:
    """The ranked tail of every top-k here: ``score`` rounded to
    ``round_to`` places (None: raw), the (id, *cols, score) select
    with the id read from column ``src``, then (score desc, id asc)
    cut to ``k`` — a TakeOrderedAndProject, no global sort."""
    return (df.select(F.col(src).alias(id_col), *cols,
                      _rounded(score, round_to).alias("score"))
            .orderBy(F.desc("score"), F.asc(id_col))
            .limit(k))


def _no_hits(docs: DataFrame, id_col: str) -> DataFrame:
    """The empty (id, score) answer; collecting it runs no job."""
    return no_rows(docs.sparkSession, f"{id_col} long, score double")


def bm25_topk(docs: DataFrame, query: str, k: int = TOP_K_SIZE,
              id_col: str = "doc_id", text_col: str = "text",
              round_to: int | None = None) -> DataFrame:
    """Conjunctive-AND BM25 top-k over a raw document table.

    Returns (doc_id, score) ordered by (score desc, doc_id asc).
    Two scans, zero shuffles (see module doc); ``round_to`` rounds
    scores for cross-engine comparison.
    """
    scan = _bm25_scan(docs, analyze_query(query), id_col, text_col,
                      conjunctive=True)
    if scan is None:
        return _no_hits(docs, id_col)  # AND: any missing term, no hits
    per_doc, idfs, avgdl = scan
    return _top_k(per_doc, _score_expr(idfs, avgdl), k, id_col, round_to)


def bm25_or_topk(docs: DataFrame, query: str, k: int = TOP_K_SIZE,
                 id_col: str = "doc_id", text_col: str = "text",
                 round_to: int | None = None) -> DataFrame:
    """Disjunctive (should) BM25 top-k: docs matching ANY query term,
    score = sum of present-term contributions in query-term order
    (absent terms contribute exactly +0.0)."""
    scan = _bm25_scan(docs, analyze_query(query), id_col, text_col,
                      conjunctive=False)
    if scan is None:
        return _no_hits(docs, id_col)
    per_doc, idfs, avgdl = scan
    return _top_k(per_doc, _score_expr(idfs, avgdl), k, id_col, round_to)


def rescore_topk(docs: DataFrame, query: str, rescore_query: str,
                 window_size: int = 50, query_weight: float = 1.0,
                 rescore_query_weight: float = 1.0,
                 k: int = TOP_K_SIZE, id_col: str = "doc_id",
                 text_col: str = "text",
                 round_to: int | None = None) -> DataFrame:
    """ES ``rescore``: re-rank the top ``window_size`` hits of the
    primary (conjunctive) query by the weighted total
    ``query_weight·primary + rescore_query_weight·secondary``, where
    the secondary is a should-style BM25 over ``rescore_query`` (a
    window doc matching none of its terms contributes exactly +0.0 —
    ES score_mode=total, the default).  Secondary idf/avgdl come from
    the FULL corpus, not the window, exactly like ES rescoring
    against index-level stats.

    Scale shape: the window (≤ window_size rows, the primary query's
    TakeOrdered output) BROADCASTS back onto one more corpus scan
    that computes the secondary tf columns only for window members —
    no shuffle, no second ranking pass over the corpus; the final
    top-k sorts ≤ window_size rows.  Ordering contract: when
    ``round_to`` is set both the sort and the emitted score use the
    ROUNDED total (ties → doc_id asc) so engine and oracle agree on
    boundary membership.

    Reference: ES filter-search-results / rescore; reference repo has
    no rescoring — beyond-ref ES parity surface."""
    terms = analyze_query(rescore_query)
    if not terms:
        return _no_hits(docs, id_col)
    base = bm25_topk(docs, query, k=window_size, id_col=id_col,
                     text_col=text_col)  # raw scores pick the window
    n_docs, avgdl, dfs = _query_stats(docs, terms, text_col)
    if n_docs == 0:
        return _no_hits(docs, id_col)
    idfs = [bm25_idf(n_docs, d) if d else 0.0 for d in dfs]
    win = base.select(F.col(id_col).alias("_wid"),
                      F.col("score").alias("_orig"))
    per_doc = (docs.join(
        F.broadcast(win), docs[id_col] == win["_wid"], "inner")
        .select(F.col("_wid").alias("doc_id"), "_orig",
                _toks(docs[text_col]).alias("_toks"))
        .select("doc_id", "_orig", F.size("_toks").alias("_dl"),
                *[_tf(i, t) for i, t in enumerate(terms)]))
    total = (F.lit(float(query_weight)) * F.col("_orig")
             + F.lit(float(rescore_query_weight))
             * _score_expr(idfs, avgdl))
    return _top_k(per_doc, total, k, id_col, round_to)


def dis_max_topk(docs: DataFrame, queries: list[str],
                 k: int = TOP_K_SIZE, tie_breaker: float = 0.0,
                 id_col: str = "doc_id", text_col: str = "text",
                 round_to: int | None = None) -> DataFrame:
    """ES ``dis_max`` query over match (should) clauses: each clause
    scores as a disjunctive BM25 sum; the doc's score is the best
    clause plus ``tie_breaker`` times the rest —
    ``max(s_i) + tie_breaker * (sum(s_i) - max(s_i))`` (Lucene
    DisjunctionMaxQuery).  A doc qualifies if ANY clause matches.

    ONE scan: every distinct term across clauses gets a tf column in
    a single projection; clause scores, the max and the blend are all
    scan-level expressions (whole-stage codegen, no shuffle before
    the final TakeOrdered)."""
    clause_terms = [analyze_query(q) for q in queries]
    all_terms = sorted({t for ts in clause_terms for t in ts})
    scan = _bm25_scan(docs, all_terms, id_col, text_col,
                      conjunctive=False)
    if scan is None:
        return _no_hits(docs, id_col)
    per_doc, idfs, avgdl = scan
    idx = {t: i for i, t in enumerate(all_terms)}
    clause_scores = []
    for terms in clause_terms:  # query-term order, left-associative
        s = _score_expr([idfs[idx[t]] for t in terms], avgdl,
                        [idx[t] for t in terms])
        clause_scores.append(F.lit(0.0) if s is None else s)
    per_doc = per_doc.select(
        "doc_id", *[cs_i.alias(f"_cs{i}")
                    for i, cs_i in enumerate(clause_scores)])
    cs = [F.col(f"_cs{i}") for i in range(len(queries))]
    mx = cs[0] if len(cs) == 1 else F.greatest(*cs)
    total = cs[0]
    for c in cs[1:]:
        total = total + c
    score = mx + F.lit(float(tie_breaker)) * (total - mx)
    return _top_k(per_doc, score, k, id_col, round_to)


def boosting_topk(docs: DataFrame, positive: str, negative: str,
                  negative_boost: float = 0.5, k: int = TOP_K_SIZE,
                  id_col: str = "doc_id", text_col: str = "text",
                  round_to: int | None = None) -> DataFrame:
    """ES ``boosting`` query: the ``positive`` clause (disjunctive
    BM25 match) scores normally; docs ALSO matching the ``negative``
    clause keep their rank slot but score multiplied by
    ``negative_boost`` (demotion, not exclusion — unlike must_not).
    One scan; the negative clause is a term-overlap predicate column,
    never a second pass."""
    neg_terms = analyze_query(negative)
    neg_col = (F.arrays_overlap(
        F.col("_toks"), F.array(*[F.lit(t) for t in neg_terms]))
        if neg_terms else F.lit(False))
    scan = _bm25_scan(docs, analyze_query(positive), id_col, text_col,
                      conjunctive=False, derived=[neg_col.alias("_neg")])
    if scan is None:
        return _no_hits(docs, id_col)
    per_doc, idfs, avgdl = scan
    score = _score_expr(idfs, avgdl)
    score = F.when(F.col("_neg"),
                   score * F.lit(float(negative_boost))).otherwise(score)
    return _top_k(per_doc, score, k, id_col, round_to)


def function_score_decay(docs: DataFrame, query: str, field: str,
                         origin: float, scale: float,
                         offset: float = 0.0, decay: float = 0.5,
                         kind: str = "gauss", k: int = TOP_K_SIZE,
                         id_col: str = "doc_id", text_col: str = "text",
                         round_to: int | None = None) -> DataFrame:
    """ES ``function_score`` with a decay function on a numeric field
    (boost_mode multiply): score = BM25(match) * decay(field).  The
    published ES formulas, with dist = max(0, |v - origin| - offset):

    - ``gauss``:  exp(ln(decay) * dist^2 / scale^2)
    - ``exp``:    exp(ln(decay) * dist   / scale)
    - ``linear``: max(0, (s - dist) / s) with s = scale / (1 - decay)

    (each is the unique member of its family with multiplier 1 at
    dist=0 and ``decay`` at dist=scale).  One scan — the decay is a
    scan-level expression on the already-read field column."""
    if kind not in ("gauss", "exp", "linear"):
        raise ValueError(f"unknown decay kind {kind!r}")
    scan = _bm25_scan(docs, analyze_query(query), id_col, text_col,
                      conjunctive=False,
                      carry={"_v": F.col(field).cast("double")})
    if scan is None:
        return _no_hits(docs, id_col)
    per_doc, idfs, avgdl = scan
    import math
    dist = F.greatest(F.lit(0.0),
                      F.abs(F.col("_v") - F.lit(float(origin)))
                      - F.lit(float(offset)))
    if kind == "gauss":
        mult = F.exp(F.lit(math.log(decay)) * dist * dist
                     / F.lit(float(scale) ** 2))
    elif kind == "exp":
        mult = F.exp(F.lit(math.log(decay)) * dist / F.lit(float(scale)))
    else:
        s = float(scale) / (1.0 - float(decay))
        mult = F.greatest(F.lit(0.0), (F.lit(s) - dist) / F.lit(s))
    return _top_k(per_doc, _score_expr(idfs, avgdl) * mult, k, id_col,
                  round_to)


def field_value_factor_topk(docs: DataFrame, query: str, field: str,
                            factor: float = 1.0,
                            modifier: str = "log1p",
                            missing: float = 1.0, k: int = TOP_K_SIZE,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            round_to: int | None = None) -> DataFrame:
    """ES ``function_score`` field_value_factor (boost_mode multiply):
    score = BM25(match) * modifier(factor * field).  Supported
    modifiers (the ES set that is defined for our data): ``none``,
    ``log1p`` (ln(1 + fv)), ``sqrt``, ``square``, ``reciprocal``.
    Null field values use ``missing`` (pre-modifier, ES semantics)."""
    mods = {"none": lambda c: c,
            "log1p": lambda c: F.log1p(c),
            "sqrt": lambda c: F.sqrt(c),
            "square": lambda c: c * c,
            "reciprocal": lambda c: F.lit(1.0) / c}
    if modifier not in mods:
        raise ValueError(f"unknown modifier {modifier!r}")
    fv = F.coalesce(F.col(field).cast("double"),
                    F.lit(float(missing))) * F.lit(float(factor))
    scan = _bm25_scan(docs, analyze_query(query), id_col, text_col,
                      conjunctive=False, carry={"_m": mods[modifier](fv)})
    if scan is None:
        return _no_hits(docs, id_col)
    per_doc, idfs, avgdl = scan
    return _top_k(per_doc, _score_expr(idfs, avgdl) * F.col("_m"), k,
                  id_col, round_to)


def collapse_topk(docs: DataFrame, query: str, collapse_col: str,
                  k: int = TOP_K_SIZE, id_col: str = "doc_id",
                  text_col: str = "text",
                  round_to: int | None = None) -> DataFrame:
    """ES field collapsing (``collapse``): the top-k hits keep only
    the BEST document per ``collapse_col`` value (score desc, doc_id
    asc within a group — Lucene's collapse tie-break), the result
    re-ordered like a normal hit list.  The search-result
    diversification primitive (one hit per repo/domain/source).

    Returns (doc_id, collapse value, score).  Scale shape: the
    conjunctive scorer's single scan, then ONE window partitioned by
    the collapse key (distributed by key — no global window), then
    the usual TakeOrdered."""
    from pyspark.sql import Window
    scan = _bm25_scan(docs, analyze_query(query), id_col, text_col,
                      conjunctive=True,
                      carry={collapse_col: F.col(collapse_col)})
    if scan is None:
        return no_rows(docs.sparkSession,
                       f"{id_col} long, {collapse_col} string, "
                       "score double")
    per_doc, idfs, avgdl = scan
    scored = per_doc.select(
        "doc_id", collapse_col,
        _rounded(_score_expr(idfs, avgdl), round_to).alias("score"))
    w = Window.partitionBy(collapse_col).orderBy(
        F.desc("score"), F.asc("doc_id"))
    lead = (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1))
    return _top_k(lead, F.col("score"), k, id_col, cols=[collapse_col])


def search_after_topk(docs: DataFrame, query: str,
                      after_score: float, after_id: int,
                      k: int = TOP_K_SIZE, id_col: str = "doc_id",
                      text_col: str = "text",
                      round_to: int | None = 6) -> DataFrame:
    """ES ``search_after`` deep paging: the next k hits STRICTLY
    after the (score, doc_id) cursor in (score desc, doc_id asc)
    order — unlike from/size, the skipped prefix is a scan predicate,
    not materialized-and-dropped rows, so page 1000 costs the same as
    page 1.

    The cursor compares on the ROUNDED score (``round_to``, default
    6) — the cross-engine-stable sort key this repo's gates use;
    pass the previous page's last (score, doc_id) back in, exactly
    like ES's ``sort`` values."""
    scan = _bm25_scan(docs, analyze_query(query), id_col, text_col,
                      conjunctive=True)
    if scan is None:
        return _no_hits(docs, id_col)
    per_doc, idfs, avgdl = scan
    scored = per_doc.select(
        "doc_id", _rounded(_score_expr(idfs, avgdl), round_to)
        .alias("score"))
    s, d = float(after_score), int(after_id)
    cursor = (F.col("score") < F.lit(s)) | \
        ((F.col("score") == F.lit(s)) & (F.col("doc_id") > F.lit(d)))
    return _top_k(scored.filter(cursor), F.col("score"), k, id_col)


def highlight(docs: DataFrame, query: str, k: int = TOP_K_SIZE,
              pre_tag: str = "<em>", post_tag: str = "</em>",
              id_col: str = "doc_id", text_col: str = "text",
              round_to: int | None = None) -> DataFrame:
    """ES highlighter in ``number_of_fragments: 0`` mode: the top-k
    conjunctive BM25 hits come back with the WHOLE field highlighted
    — every case-insensitive whole-word occurrence of an analyzed
    query term wrapped in ``pre_tag``/``post_tag`` (ES default
    ``<em>``).  Fragmenting (best-window extraction) is not
    implemented — documented divergence; 0-fragments mode is the ES
    option real UIs use for short fields.

    Returns (doc_id, score, highlighted).  One regexp_replace over
    the k hit rows only: the hits (tiny) broadcast-join back to the
    doc table, the regex never runs over non-hits."""
    import re as _re
    terms = analyze_query(query)
    if not terms:
        return no_rows(docs.sparkSession,
                       f"{id_col} long, score double, highlighted string")
    hits = bm25_topk(docs, query, k, id_col, text_col, round_to)
    pat = (r"(?i)\b(" + "|".join(
        _re.escape(t) for t in sorted(terms, key=len, reverse=True))
        + r")\b")
    return (docs.select(id_col, text_col)
            .join(F.broadcast(hits), id_col)
            .select(id_col, "score",
                    F.regexp_replace(
                        F.col(text_col), pat,
                        f"{pre_tag}$1{post_tag}").alias("highlighted"))
            .orderBy(F.desc("score"), F.asc(id_col)))


def highlight_fragments(docs: DataFrame, query: str,
                        k: int = TOP_K_SIZE, fragment_size: int = 20,
                        number_of_fragments: int = 3,
                        pre_tag: str = "<em>", post_tag: str = "</em>",
                        id_col: str = "doc_id", text_col: str = "text",
                        round_to: int | None = None) -> DataFrame:
    """ES unified highlighter in fragmenting mode
    (``number_of_fragments`` > 0): best-window fragment extraction
    for the top-k conjunctive BM25 hits.

    Deterministic window-selection rule (the whole contract — the
    oracle recomputes it in SQL):

    1. analyze the hit doc with the standard analyzer; token
       positions are 0-based;
    2. candidate fragments TILE the document in fixed windows of
       ``fragment_size`` tokens: window w covers positions
       [w*size, (w+1)*size) (Lucene SimpleFragmenter analog,
       token-measured — char-offset passages are the documented
       divergence from ES);
    3. window score = Σ over query terms of
       count(term in window) · idf(term), folded in query-term
       order (the unified PassageScorer without length norm), idf
       the corpus BM25 idf the ranking itself uses, rounded to 6 dp;
    4. keep the ``number_of_fragments`` best windows per doc by
       (window score DESC, window index ASC), windows with no match
       never qualify;
    5. emit kept fragments in DOCUMENT order (ES ``order: none``
       default) as fragment_ix = 0..F-1, each fragment the window's
       analyzed tokens joined by ' ' with every query-term token
       wrapped in ``pre_tag``/``post_tag``.

    Scale shape: fragments are computed for the k hit rows ONLY (the
    tiny hit set broadcast-joins back to the doc table, so posexplode
    never runs over non-hits); the (doc, window) aggregation
    partial-aggregates map-side and its state per group is bounded by
    ``fragment_size``; the per-doc top-F window ranks over ≤k docs.

    Returns (doc_id, score, fragment_ix, fragment_score, fragment).
    Reference: ES unified highlighter docs (number_of_fragments /
    fragment_size); reference repo stores ES highlight settings in
    its search request builder."""
    from pyspark.sql import Window
    terms = analyze_query(query)
    scan = _bm25_scan(docs, terms, id_col, text_col, conjunctive=True)
    if scan is None:
        return no_rows(docs.sparkSession,
                       f"{id_col} long, score double, fragment_ix long, "
                       "fragment_score double, fragment string")
    per_doc, idfs, avgdl = scan
    hits = _top_k(per_doc, _score_expr(idfs, avgdl), k, id_col, round_to)
    toks = (docs.select(id_col, text_col)
            .join(F.broadcast(hits), id_col)
            .select(id_col, "score",
                    F.posexplode(_toks(F.col(text_col)))
                    .alias("pos", "tok")))
    size = int(fragment_size)
    marked = F.when(
        F.col("tok").isin(list(terms)),
        F.concat(F.lit(pre_tag), F.col("tok"), F.lit(post_tag))
    ).otherwise(F.col("tok"))
    cnt_aggs = [
        F.sum(F.when(F.col("tok") == F.lit(t), 1).otherwise(0))
        .alias(f"_c{i}") for i, t in enumerate(terms)]
    grouped = (toks
               .withColumn("_w", F.floor(F.col("pos") / size)
                           .cast("long"))
               .withColumn("_m", marked)
               .groupBy(id_col, "score", "_w")
               .agg(*cnt_aggs,
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos",
                                         F.col("_m").alias("m")))),
                            lambda s: s["m"]), " ").alias("fragment")))
    fscore = None
    for i in range(len(terms)):
        c = F.col(f"_c{i}").cast("double") * F.lit(idfs[i])
        fscore = c if fscore is None else fscore + c
    cand = (grouped
            .withColumn("fragment_score", F.round(fscore, 6))
            .filter(F.col("fragment_score") > 0))
    by_score = Window.partitionBy(id_col).orderBy(
        F.desc("fragment_score"), F.asc("_w"))
    by_order = Window.partitionBy(id_col).orderBy(F.asc("_w"))
    return (cand
            .withColumn("_r", F.row_number().over(by_score))
            .filter(F.col("_r") <= int(number_of_fragments))
            .withColumn("fragment_ix",
                        (F.row_number().over(by_order) - 1)
                        .cast("long"))
            .select(id_col, "score", "fragment_ix", "fragment_score",
                    "fragment")
            .orderBy(F.desc("score"), F.asc(id_col),
                     F.asc("fragment_ix")))


def term_stats_df(docs: DataFrame, terms: list[str],
                  id_col: str = "doc_id", text_col: str = "text"
                  ) -> DataFrame:
    """(term, df, cf) global statistics for a term list — one scan,
    one partial-aggregate (no per-term explode shuffle)."""
    t = docs.select(_toks(F.col(text_col)).alias("_toks"))
    aggs = []
    for i, term in enumerate(terms):
        aggs.append(F.sum(
            F.when(F.array_contains("_toks", term), 1).otherwise(0))
            .alias(f"_df{i}"))
        aggs.append(F.sum(F.size(F.filter(
            F.col("_toks"), lambda x: x == F.lit(term))))
            .alias(f"_cf{i}"))
    agg = t.agg(*aggs)
    stacked = agg.select(F.explode(F.array(*[
        F.struct(F.lit(term).alias("term"),
                 F.col(f"_df{i}").cast("long").alias("df"),
                 F.col(f"_cf{i}").cast("long").alias("cf"))
        for i, term in enumerate(terms)])).alias("s"))
    return (stacked.select("s.term", "s.df", "s.cf")
            .filter(F.col("df") > 0))


def facet_counts(docs: DataFrame, query: str, facet_col: str,
                 id_col: str = "doc_id", text_col: str = "text"
                 ) -> DataFrame:
    """Auctus returns `terms` facet aggregations with every search
    (search/__init__.py:587-603): counts of the FULL HIT SET grouped
    by a keyword field — conjunctive-AND matches, one scan, one
    partial aggregate (no explode, no semi-join)."""
    terms = analyze_query(query)
    t = docs.select(F.col(facet_col).alias("_facet"),
                    _toks(F.col(text_col)).alias("_toks"))
    cond = None
    for term in terms:
        c = F.array_contains("_toks", term)
        cond = c if cond is None else cond & c
    hits = t.filter(cond) if cond is not None else t
    return (hits.groupBy(F.col("_facet").alias(facet_col))
            .agg(F.count("*").alias("n")))


def bm25_multifield_topk(docs: DataFrame, query: str,
                         boosts: dict[str, float], k: int = TOP_K_SIZE,
                         id_col: str = "doc_id",
                         round_to: int | None = None) -> DataFrame:
    """Multi-field BM25 with field boosts — the reference's flagship
    query shape (multi_match over ``id^10, description, name^3,
    attribute_keywords``, operator AND; search/__init__.py:57-109).

    Per-field statistics (N_f over docs with the field, df_f, avgdl_f),
    score = sum over query terms of sum over fields of
    boost_f * idf_f(t) * tf_norm_f(t, d); AND = every term present in
    at least one field.  Bit-exact with oracle.search_multifield
    (same (term, field) summation order).

    Scoring-model note: this is ES ``most_fields`` scoring (sum of
    independent per-field BM25) with AND-across-fields candidate
    semantics.  The reference's flagship ``type: cross_fields``
    (blended per-term statistics) is ``bm25_crossfields_topk`` below.

    Plan: one stats aggregate over all fields at once + one scoring
    scan, zero shuffles.
    """
    terms = analyze_query(query)
    scan = _fields_scan(docs, terms, list(boosts), id_col)
    if scan is None:
        return _no_hits(docs, id_col)
    per_doc, live = scan
    # (term, field) summation order — the oracle's; boost * idf folded
    # into float64 literals with Python math, identical to the
    # oracle's boost * idf(...) left-assoc multiply
    score = None
    for i in range(len(terms)):
        for j, fc, n_f, avgdl_f, dfs in live:
            w = boosts[fc] * bm25_idf(n_f, dfs[i]) if dfs[i] else 0.0
            if w == 0.0:
                continue
            c = _bm25_term(w, f"_tf{j}_{i}", f"_dl{j}", avgdl_f)
            score = c if score is None else score + c
    return _top_k(per_doc, score, k, id_col, round_to)


def bm25_crossfields_topk(docs: DataFrame, query: str,
                          boosts: dict[str, float], k: int = TOP_K_SIZE,
                          id_col: str = "doc_id",
                          round_to: int | None = None) -> DataFrame:
    """``multi_match type: cross_fields`` — the reference's flagship
    query TYPE (search/__init__.py:64-76 sets ``type: cross_fields``
    on every keyword search).  Lucene BlendedTermQuery semantics:
    per-term df is blended across the field group (df_blend = max over
    fields), each field scores with idf(N_f, min(df_blend, N_f))
    (clamped — see oracle.search_cross_fields), and the per-term score
    is the DisjunctionMax over fields (tie_breaker 0.0, the
    cross_fields default): max_f boost_f * idf_f * tf_norm_f.  AND
    across terms.  Bit-exact with oracle.search_cross_fields.

    Same fused plan as ``bm25_multifield_topk``: one stats aggregate
    over all fields + one scoring scan with the candidate predicate at
    the scan, zero shuffles, TakeOrderedAndProject top-k.
    """
    terms = analyze_query(query)
    scan = _fields_scan(docs, terms, list(boosts), id_col)
    if scan is None:
        return _no_hits(docs, id_col)
    per_doc, live = scan
    # blended df per term; weight per (field, term) boost_f *
    # idf(N_f, min(df_blend, N_f)) folded into float64 literals with
    # Python math (the oracle's exact left-assoc multiply)
    df_blend = [max(entry[4][i] for entry in live)
                for i in range(len(terms))]
    score = None  # sum over terms of dismax over fields
    for i in range(len(terms)):
        contribs = []
        for j, fc, n_f, avgdl_f, dfs in live:
            if dfs[i] == 0:
                continue  # term absent from field f ⇒ tf=0 everywhere
            w = boosts[fc] * bm25_idf(n_f, min(df_blend[i], n_f))
            contribs.append(_bm25_term(w, f"_tf{j}_{i}", f"_dl{j}",
                                       avgdl_f))
        best = (contribs[0] if len(contribs) == 1
                else F.greatest(*contribs))
        score = best if score is None else score + best
    return _top_k(per_doc, score, k, id_col, round_to)


def bm25_topk_synonyms(docs: DataFrame, query: str,
                       synonyms: dict[str, list[str]],
                       k: int = TOP_K_SIZE, id_col: str = "doc_id",
                       text_col: str = "text",
                       round_to: int | None = None) -> DataFrame:
    """Conjunctive BM25 with search-time synonym expansion — the
    reference applies ES ``synonym_graph`` on every search
    (elasticsearch.yml:16-24, docker/synonyms.txt).  Lucene
    SynonymQuery semantics per slot: alternatives form ONE pseudo-term
    with tf = sum of member tfs, df = max of member dfs; AND across
    slots.  Same fused two-scan / zero-shuffle plan as bm25_topk;
    bit-exact with oracle.search_synonyms.
    """
    from .oracle import _analyze_slots
    slots = _analyze_slots(query, synonyms)
    if not slots:
        return _no_hits(docs, id_col)

    # ---- stats pass: N, avgdl, per-MEMBER df in one aggregate ----
    t = docs.select(_toks(F.col(text_col)).alias("_toks"))
    aggs = [F.count("*").alias("_n"), F.sum(F.size("_toks")).alias("_t")]
    for i, alts in enumerate(slots):
        for j, term in enumerate(alts):
            aggs.append(F.sum(
                F.when(F.array_contains("_toks", term), 1).otherwise(0))
                .alias(f"_df{i}_{j}"))
    row = t.agg(*aggs).collect()[0]
    n_docs = int(row["_n"])
    if n_docs == 0:
        return _no_hits(docs, id_col)
    avgdl = float(row["_t"]) / n_docs if row["_t"] is not None else 0.0
    slot_df = []
    for i, alts in enumerate(slots):
        df_i = max(int(row[f"_df{i}_{j}"]) for j in range(len(alts)))
        if df_i == 0:
            return _no_hits(docs, id_col)  # a required slot is absent
        slot_df.append(df_i)

    # ---- scoring pass: slot tf = sum of member tfs ----
    # candidate predicate: every slot has >= 1 member present
    cond = None
    for alts in slots:
        sarr = F.array(*[F.lit(x) for x in alts])
        c = F.arrays_overlap(_toks(F.col(text_col)), sarr)
        cond = c if cond is None else cond & c
    per_doc = (docs.filter(cond)
               .select(F.col(id_col).alias("doc_id"),
                       _toks(F.col(text_col)).alias("_toks")))

    def _slot_tf(alts):
        sarr = F.array(*[F.lit(x) for x in alts])
        return F.size(F.filter(F.col("_toks"),
                               lambda x: F.array_contains(sarr, x)))

    cols = ["doc_id", F.size("_toks").alias("_dl")]
    for i, alts in enumerate(slots):
        cols.append(_slot_tf(alts).alias(f"_tf{i}"))
    per_doc = per_doc.select(*cols)
    idfs = [bm25_idf(n_docs, d) for d in slot_df]
    return _top_k(per_doc, _score_expr(idfs, avgdl), k, id_col, round_to)


def random_score_topk(docs: DataFrame, query: str, seed: int = 0,
                      k: int = TOP_K_SIZE, id_col: str = "doc_id",
                      text_col: str = "text",
                      round_to: int | None = None) -> DataFrame:
    """ES ``function_score`` / ``random_score`` with a seed + field
    (the reproducible form): conjunctive filter on ``query``, score =
    uniform variate in [0, 1) derived from md5(seed ':' doc_id) — no
    RNG, so the ranking is stable across engines, partitionings and
    cluster sizes (the same md5-variate discipline as
    sampling.weighted_sample).  Top-k by (score desc, doc_id asc).

    ES seeds a PRNG from seed+field-value; the md5 substitute is the
    documented deterministic contract here (same distribution, same
    reproducibility guarantee).  Pure scan-level expressions — one
    scan, TakeOrdered."""
    terms = analyze_query(query)
    if not terms:
        return _no_hits(docs, id_col)
    qarr = F.array(*[F.lit(t) for t in terms])
    cond = (F.size(F.array_intersect(_toks(F.col(text_col)), qarr))
            == len(terms))
    # first 8 hex of md5("{seed}:{doc_id}") / 2^32 -> [0, 1)
    h = F.substring(F.md5(F.concat(F.lit(f"{int(seed)}:"),
                                   F.col(id_col).cast("string"))),
                    1, 8)
    score = F.conv(h, 16, 10).cast("double") / F.lit(float(1 << 32))
    return _top_k(docs.filter(cond), score, k, id_col, round_to,
                  src=id_col)


def match_bool_prefix_topk(docs: DataFrame, query: str,
                           k: int = TOP_K_SIZE, id_col: str = "doc_id",
                           text_col: str = "text",
                           round_to: int | None = None) -> DataFrame:
    """ES ``match_bool_prefix``: the analyzed terms become a bool
    should — every term but the last scores as a regular BM25 term
    clause (disjunctive, absent terms contribute +0.0), the LAST term
    matches as a PREFIX and scores constant 1.0 when any token starts
    with it (Lucene's PrefixQuery inside the bool — constant_score
    rewrite, weight 1).  Docs matching no clause are excluded.

    One corpus scan: per-term tf columns + one `exists(startswith)`
    flag, all JVM-side; the stats pass is the same single aggregate
    the other pipeline queries share.  Reference: ES
    query-dsl-match-bool-prefix-query."""
    terms = analyze_query(query)
    if not terms:
        return _no_hits(docs, id_col)
    prefix, full = terms[-1], terms[:-1]
    n_docs, avgdl, dfs = _query_stats(docs, full, text_col) \
        if full else (None, None, [])
    if full and n_docs == 0:
        return _no_hits(docs, id_col)
    if not full:
        row = docs.agg(F.count("*").alias("_n")).collect()[0]
        if int(row["_n"]) == 0:
            return _no_hits(docs, id_col)
    idfs = [bm25_idf(n_docs, d) if d else 0.0 for d in dfs]
    toks = _toks(F.col(text_col))
    pref_hit = F.exists(toks, lambda x: x.startswith(prefix))
    qarr = F.array(*[F.lit(t) for t in full]) if full else None
    cond = pref_hit if qarr is None else \
        (F.arrays_overlap(toks, qarr) | pref_hit)
    per_doc = (docs.filter(cond)
               .select(F.col(id_col).alias("doc_id"),
                       _toks(F.col(text_col)).alias("_toks"))
               .select("doc_id", F.size("_toks").alias("_dl"),
                       F.exists(F.col("_toks"),
                                lambda x: x.startswith(prefix))
                       .alias("_pref"),
                       *[_tf(i, t) for i, t in enumerate(full)]))
    score = F.when(F.col("_pref"), F.lit(1.0)).otherwise(F.lit(0.0))
    if full:
        score = _score_expr(idfs, avgdl) + score
    return _top_k(per_doc, score, k, id_col, round_to)


def _or_scores(docs: DataFrame, query: str,
               carry_cols: list[str],
               id_col: str = "doc_id", text_col: str = "text",
               round_to: int = 6) -> DataFrame | None:
    """Unlimited should-style BM25 scores (no top-k cut), carrying
    ``carry_cols`` through the SAME scan so downstream sampler aggs
    never join back to the corpus.  Scores are rounded to
    ``round_to`` BEFORE any ordering derived from them (the
    rounded-score ordering contract shared with search_after), so an
    external oracle sorting on the rounded value agrees on ties.
    Returns None when the query analyzes to nothing / matches
    nothing."""
    scan = _bm25_scan(docs, analyze_query(query), id_col, text_col,
                      conjunctive=False,
                      carry={c: F.col(c) for c in carry_cols})
    if scan is None:
        return None
    per_doc, idfs, avgdl = scan
    score = F.round(_score_expr(idfs, avgdl), round_to)
    return per_doc.select("doc_id", *carry_cols, score.alias("score"))


def sampler_facet(docs: DataFrame, query: str, facet_col: str,
                  shard_size: int = 100, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """ES ``sampler`` aggregation: limit a sub-aggregation's scope to
    the ``shard_size`` best-scoring hits, then run the sub-agg (here
    a terms facet on ``facet_col``).  ES samples the top shard_size
    PER SHARD (result depends on sharding); this takes the GLOBAL
    top — deterministic and strictly stronger, documented divergence.

    Plan: one corpus scan computes should-BM25 scores with the facet
    column carried along (no join-back), TakeOrdered(shard_size) on
    (score desc, doc_id asc) — rounded-score ordering — then a tiny
    groupBy over ≤ shard_size rows.  Returns (facet, doc_count)
    ordered (doc_count desc, facet asc)."""
    scored = _or_scores(docs, query, [facet_col], id_col, text_col)
    if scored is None:
        return no_rows(docs.sparkSession,
                       f"{facet_col} string, doc_count long")
    top = (scored.orderBy(F.desc("score"), F.asc("doc_id"))
           .limit(shard_size))
    return (top.groupBy(facet_col)
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc(facet_col)))


def diversified_sampler_facet(docs: DataFrame, query: str,
                              facet_col: str, diversify_col: str,
                              max_docs_per_value: int = 1,
                              shard_size: int = 100,
                              id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """ES ``diversified_sampler``: like sampler, but while collecting
    the top ``shard_size`` hits at most ``max_docs_per_value`` docs
    per distinct ``diversify_col`` value are admitted (over-quota
    docs are SKIPPED, not truncated — collection keeps filling from
    lower-ranked hits).  Global deterministic form of ES's per-shard
    contract, same divergence note as :func:`sampler_facet`.

    Plan: one scan scores hits carrying both columns; a window rank
    per diversify value (partition-parallel, hits only) drops
    over-quota rows; TakeOrdered(shard_size) then the tiny facet
    groupBy.  All ordering on the rounded score, doc_id asc."""
    from pyspark.sql import Window
    scored = _or_scores(docs, query, [facet_col, diversify_col],
                        id_col, text_col)
    if scored is None:
        return no_rows(docs.sparkSession,
                       f"{facet_col} string, doc_count long")
    wv = (Window.partitionBy(diversify_col)
          .orderBy(F.desc("score"), F.asc("doc_id")))
    kept = (scored.withColumn("_rv", F.row_number().over(wv))
            .filter(F.col("_rv") <= max_docs_per_value))
    top = (kept.orderBy(F.desc("score"), F.asc("doc_id"))
           .limit(shard_size))
    return (top.groupBy(facet_col)
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc(facet_col)))


def combined_fields_topk(docs: DataFrame, query: str,
                         fields: dict[str, float],
                         operator: str = "and", k: int = TOP_K_SIZE,
                         id_col: str = "doc_id",
                         round_to: int | None = None) -> DataFrame:
    """ES ``combined_fields`` query — term-centric BM25F over several
    fields treated as ONE combined field (ES combined-fields-query;
    Lucene CombinedFieldQuery "simple BM25F"):

        tf_c(t)  = Σ_f  w_f · tf_f(t)          (w_f ≥ 1, ES contract)
        dl_c     = Σ_f  w_f · dl_f
        avgdl_c  = Σ_docs dl_c / N
        df_c(t)  = |{docs: t in ANY queried field}|
        score    = Σ_t idf(df_c) · tf_c/(tf_c + k1·(1−b+b·dl_c/avgdl_c))

    Unlike cross_fields (per-field scores dis-maxed with blended df),
    combined_fields mixes the raw FREQUENCIES before a single BM25 —
    the two diverge exactly when a term is frequent in one field and
    rare in another.  ``operator``: 'and' (every term somewhere in
    some field) or 'or'.

    Plan: the pipeline contract — one stats aggregate (N, weighted
    total length, per-term any-field df), one scoring scan with
    literal-folded idfs, TakeOrdered(k)."""
    terms = analyze_query(query)
    if not terms or not fields:
        return _no_hits(docs, id_col)
    for f_, w in fields.items():
        if w < 1.0:
            raise ValueError(
                f"combined_fields weights must be >= 1 (ES contract); "
                f"{f_}={w}")
    names = sorted(fields)
    tok_cols = {f_: _toks(F.col(f_)) for f_ in names}

    t = docs.select(*[tok_cols[f_].alias(f"_tk_{f_}") for f_ in names])
    dl_c = None
    for f_ in names:
        part = F.lit(fields[f_]) * F.size(f"_tk_{f_}")
        dl_c = part if dl_c is None else dl_c + part
    aggs = [F.count("*").alias("_n"), F.sum(dl_c).alias("_t")]
    for i, term in enumerate(terms):
        anyf = None
        for f_ in names:
            c = F.array_contains(f"_tk_{f_}", term)
            anyf = c if anyf is None else anyf | c
        aggs.append(F.sum(F.when(anyf, 1).otherwise(0))
                    .alias(f"_df{i}"))
    row = t.agg(*aggs).collect()[0]
    n = int(row["_n"])
    if n == 0:
        return _no_hits(docs, id_col)
    avgdl = float(row["_t"]) / n if row["_t"] is not None else 0.0
    dfs = [int(row[f"_df{i}"]) for i in range(len(terms))]
    if operator == "and" and any(d == 0 for d in dfs):
        return _no_hits(docs, id_col)
    if all(d == 0 for d in dfs):
        return _no_hits(docs, id_col)
    idfs = [bm25_idf(n, d) if d else 0.0 for d in dfs]

    per = docs.select(
        F.col(id_col).alias("doc_id"),
        *[tok_cols[f_].alias(f"_tk_{f_}") for f_ in names])
    dl_expr = None
    for f_ in names:
        part = F.lit(fields[f_]) * F.size(f"_tk_{f_}")
        dl_expr = part if dl_expr is None else dl_expr + part
    per = per.withColumn("_dlc", dl_expr)
    norm = F.lit(K1) * (F.lit(1.0 - B)
                        + F.lit(B) * F.col("_dlc") / F.lit(avgdl or 1.0))
    score = None
    cond = None
    for i, term in enumerate(terms):
        tfc = None
        for f_ in names:
            tf = F.size(F.filter(F.col(f"_tk_{f_}"),
                                 lambda x: x == F.lit(term)))
            part = F.lit(fields[f_]) * tf
            tfc = part if tfc is None else tfc + part
        c = F.lit(idfs[i]) * (tfc / (tfc + norm))
        score = c if score is None else score + c
        present = tfc > 0
        if operator == "and":
            cond = present if cond is None else cond & present
        else:
            cond = present if cond is None else cond | present
    return _top_k(per.filter(cond), score, k, id_col, round_to)


def distance_feature_topk(df: DataFrame, field: str, origin,
                          pivot: float, boost: float = 1.0,
                          k: int = TOP_K_SIZE, id_col: str = "event_id",
                          is_timestamp: bool = True,
                          round_to: int | None = 6) -> DataFrame:
    """ES ``distance_feature`` query (date/numeric form): rank rows by
    proximity to ``origin`` —

        score = boost · pivot / (pivot + |field − origin|)

    For timestamps the distance is in SECONDS (``pivot`` given in
    seconds; ES takes a date-math string like "7d" — callers convert).
    Null field values never match (ES contract).  One scan, pure JVM
    arithmetic, TakeOrdered(k) on (score desc, id asc) over the
    ROUNDED score so oracles agree on boundary ties."""
    if is_timestamp:
        # timestamp -> double keeps sub-second precision (micros/1e6),
        # matching an oracle's epoch_us(ts)/1e6 exactly
        dist = F.abs(F.col(field).cast("timestamp").cast("double")
                     - F.lit(origin).cast("timestamp").cast("double"))
    else:
        dist = F.abs(F.col(field).cast("double") - F.lit(float(origin)))
    score = F.lit(float(boost)) * F.lit(float(pivot)) \
        / (F.lit(float(pivot)) + dist)
    return _top_k(df.filter(F.col(field).isNotNull()), score, k, id_col,
                  round_to, src=id_col)


def terms_set_topk(docs: DataFrame, terms: list[str], msm_col,
                   k: int = TOP_K_SIZE, id_col: str = "doc_id",
                   text_col: str = "text",
                   round_to: int | None = 6) -> DataFrame:
    """ES ``terms_set`` query: match docs where at least ``m`` of the
    supplied terms occur, with ``m`` read PER DOC from
    ``minimum_should_match_field`` (``msm_col``, a Column expression)
    — the dynamic-per-doc form of minimum_should_match.  Matching
    docs score the bool-should BM25 sum of their PRESENT terms (ES
    scores terms_set like a bool of term queries).

    Plan: pipeline contract — one stats scan (term dfs), one scoring
    scan where the match predicate compares the per-doc distinct-hit
    count against the per-doc m, TakeOrdered(k) on the rounded
    score."""
    if not terms:
        return _no_hits(docs, id_col)
    n, avgdl, dfs = _query_stats(docs, terms, text_col)
    if n == 0 or all(d == 0 for d in dfs):
        return _no_hits(docs, id_col)
    idfs = [bm25_idf(n, d) if d else 0.0 for d in dfs]
    per = docs.select(F.col(id_col).alias("doc_id"),
                      msm_col.cast("long").alias("_m"),
                      _toks(F.col(text_col)).alias("_toks")) \
        .select("doc_id", "_m", F.size("_toks").alias("_dl"),
                *[_tf(i, t) for i, t in enumerate(terms)])
    nt = None
    for i in range(len(terms)):
        c = F.when(F.col(f"_tf{i}") > 0, 1).otherwise(0)
        nt = c if nt is None else nt + c
    return _top_k(per.filter(nt >= F.col("_m")), _score_expr(idfs, avgdl),
                  k, id_col, round_to)


def rank_feature_topk(df: DataFrame, field: str,
                      function: str = "saturation",
                      pivot: float | None = None,
                      exponent: float = 1.0,
                      scaling_factor: float = 1.0,
                      boost: float = 1.0, k: int = TOP_K_SIZE,
                      id_col: str = "doc_id",
                      round_to: int | None = None) -> DataFrame:
    """ES ``rank_feature`` query: score docs by a static numeric
    feature (pagerank, url_length, ...) without any text match.
    Functions (ES 8.x set):

    * ``saturation``: x / (x + pivot)
    * ``log``:        ln(scaling_factor + x)
    * ``sigmoid``:    x^exp / (x^exp + pivot^exp)
    * ``linear``:     x   (the rank_features untransformed form)

    score = boost * fn(x); docs with a null or non-positive feature
    do not match (ES requires strictly positive rank_feature
    values).  ES approximates a missing ``pivot`` with the field's
    mean — here pivot is REQUIRED for saturation/sigmoid so the
    score is a pure per-row expression (no hidden stats pass),
    documented divergence.

    Plan: ONE scan — sargable ``x > 0`` filter at the scan, the
    transform folded into a literal JVM expression,
    TakeOrderedAndProject(k).  No shuffle."""
    x = F.col(field).cast("double")
    if function == "saturation":
        if pivot is None:
            raise ValueError("saturation requires pivot")
        s = x / (x + F.lit(float(pivot)))
    elif function == "log":
        s = F.log(F.lit(float(scaling_factor)) + x)
    elif function == "sigmoid":
        if pivot is None:
            raise ValueError("sigmoid requires pivot")
        xe = F.pow(x, F.lit(float(exponent)))
        s = xe / (xe + F.lit(float(pivot) ** float(exponent)))
    elif function == "linear":
        s = x
    else:
        raise ValueError(f"unknown rank_feature function {function!r}")
    return _top_k(df.filter(x.isNotNull() & (x > 0)),
                  F.lit(float(boost)) * s, k, id_col, round_to,
                  src=id_col)


def pinned_topk(docs: DataFrame, ids: list[int], query: str,
                k: int = TOP_K_SIZE, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """ES ``pinned`` query: the listed doc ids rank first, in the
    given order (whether or not they match), followed by the organic
    hits (should-style BM25, pinned docs excluded) in score order.
    Pinned ids absent from the corpus are skipped (a doc that does
    not exist cannot be returned).  Returns (rank, doc_id, pinned)
    — rank carries the ES response ordering through the driver's
    order-insensitive compare.

    Plan: the pinned list is a literal-array lookup (no join — ES
    caps pinned ids at 100); organic is the standard two-scan
    pipeline with pinned ids filtered out at the scan; the union is
    ≤ k + len(ids) rows, so the final rank window is a no-op-sized
    single partition."""
    from pyspark.sql import Window
    pin_pos = {int(d): i for i, d in enumerate(ids)}
    pos_expr = F.lit(len(ids))
    for d, i in pin_pos.items():
        pos_expr = F.when(F.col("doc_id") == d, i).otherwise(pos_expr)
    pinned = (docs.select(F.col(id_col).alias("doc_id"))
              .filter(F.col("doc_id").isin(list(pin_pos)))
              .select("doc_id", pos_expr.alias("_pin"),
                      F.lit(True).alias("pinned")))
    organic = _or_scores(docs, query, [], id_col, text_col)
    if organic is not None:
        organic = (organic.filter(~F.col("doc_id").isin(list(pin_pos)))
                   .orderBy(F.desc("score"), F.asc("doc_id"))
                   .limit(k)
                   .select("doc_id",
                           (F.lit(len(ids))
                            + F.row_number().over(
                                Window.orderBy(F.desc("score"),
                                               F.asc("doc_id"))))
                           .alias("_pin"),
                           F.lit(False).alias("pinned")))
        both = pinned.unionByName(organic)
    else:
        both = pinned
    w = Window.orderBy(F.asc("_pin"), F.asc("doc_id"))
    return (both.select("doc_id", "pinned",
                        F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= k)
            .select("rank", "doc_id", "pinned"))


def collapse_inner_hits_topk(docs: DataFrame, query: str,
                             collapse_col: str, k: int = TOP_K_SIZE,
                             inner_size: int = 3,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             round_to: int = 6) -> DataFrame:
    """ES field collapsing with ``inner_hits``: the global top-k is
    one group (collapse value) per slot, chosen by its best hit, and
    each selected group carries its own top-``inner_size`` hits
    (score desc, doc_id asc — Lucene's collapse tie-break).

    Returns (collapse value, doc_id, score, inner_rank) — the lead
    hit is inner_rank 1.  Scale shape: ONE conjunctive-scorer scan,
    ONE window partitioned by the collapse key (distributed — no
    global window), a TakeOrdered(k) over the ≤|groups| lead rows,
    and the ≤k selected group keys broadcast back onto the ranked
    rows.  Scores round to ``round_to`` BEFORE ranking (the
    cross-engine ordering contract)."""
    from pyspark.sql import Window
    scan = _bm25_scan(docs, analyze_query(query), id_col, text_col,
                      conjunctive=True,
                      carry={collapse_col: F.col(collapse_col)})
    if scan is None:
        return no_rows(docs.sparkSession,
                       f"{collapse_col} string, {id_col} long, "
                       "score double, inner_rank int")
    per_doc, idfs, avgdl = scan
    scored = per_doc.select(
        "doc_id", collapse_col,
        F.round(_score_expr(idfs, avgdl), round_to).alias("score"))
    w = Window.partitionBy(collapse_col).orderBy(
        F.desc("score"), F.asc("doc_id"))
    ranked = scored.withColumn("inner_rank",
                               F.row_number().over(w)) \
        .filter(F.col("inner_rank") <= inner_size)
    leads = (ranked.filter(F.col("inner_rank") == 1)
             .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
             .select(collapse_col))
    out = ranked.join(F.broadcast(leads), collapse_col, "inner")
    return out.select(collapse_col,
                      F.col("doc_id").alias(id_col), "score",
                      "inner_rank")


def _shingles(col):
    """2-shingle array of a tokens array: ["a","b","c"] -> ["a b",
    "b c"] (Lucene ShingleFilter(2,2) without unigram output)."""
    n = F.greatest(F.size(col) - 1, F.lit(0))
    return F.zip_with(F.slice(col, 1, n),
                      F.slice(col, 2, n),
                      lambda a, b: F.concat_ws(" ", a, b))


def shingle_phrase_topk(docs: DataFrame, phrase: str,
                        k: int = TOP_K_SIZE, id_col: str = "doc_id",
                        text_col: str = "text",
                        round_to: int | None = None) -> DataFrame:
    """Lucene ShingleFilter / ES ``search_as_you_type`` ``_2gram``:
    a TWO-word phrase matched as ONE exact term over the index-time
    2-shingle stream, scored BM25 with the shingle field's own
    statistics — tf = shingle occurrences, dl = shingles per doc
    (len−1), df = docs containing the shingle, N = all docs.  This is
    the fast-phrase trade: no positions machinery at query time at
    all (documented divergence from match_phrase's main-field
    statistics — ES's _2gram subfield scores exactly this way).

    Plan shape == the unigram DataFrame engine: one stats scan (sum/
    count/df partial-agg, no shuffle of docs), one scoring scan with
    the shingle tf as an array expression, TakeOrdered(k)."""
    terms = analyze_query(phrase)
    if len(terms) != 2:
        raise ValueError("shingle_phrase_topk takes exactly a "
                         f"two-token phrase; got {terms!r}")
    sh = " ".join(terms)
    sh_arr = _shingles(_toks(F.col(text_col)))
    stats = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.greatest(F.size(_toks(F.col(text_col))) - 1,
                         F.lit(0))).alias("tot"),
        F.sum(F.array_contains(sh_arr, sh).cast("long"))
        .alias("df")).collect()[0]
    n, df = int(stats["n"]), int(stats["df"])
    if n == 0 or df == 0:
        return _no_hits(docs, id_col)
    avgdl = float(stats["tot"]) / float(n)
    idf = bm25_idf(n, df)
    tf = F.size(F.filter(sh_arr, lambda x: x == F.lit(sh)))
    dl = F.greatest(F.size(_toks(F.col(text_col))) - 1, F.lit(0))
    score = (F.lit(idf)
             * (tf / (tf + F.lit(K1)
                      * (F.lit(1.0 - B)
                         + F.lit(B) * dl / F.lit(avgdl)))))
    return _top_k(docs.filter(F.array_contains(sh_arr, sh)), score, k,
                  id_col, round_to, src=id_col)
