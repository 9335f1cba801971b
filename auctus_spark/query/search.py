"""Auctus-style search surface over a document/metadata table.

Mirrors the reference apiserver semantics end to end:

- keyword search: conjunctive AND BM25 (``search/__init__.py:57-109``)
  via :mod:`auctus_spark.pipeline` (table path) or the segment index;
- keyword filters (source/lang/types → ``terms`` filters,
  ``:81-107``), must_not exclusions (``join.py:170-174``);
- facet aggregations returned with every search (``:587-603``);
- pagination with TOP_K_SIZE=50 pages and the 10,000 scroll cap
  (``:556-577``);
- fuzzy name match with max edit distance 2 (``join.py:166-169``);
- augmentation-search assembly: join candidates (range/spatial
  coverage scoring) + union candidates (column-name similarity) zip-
  interleaved and cut to top-k (``search/__init__.py:369-420``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import TOP_K_SIZE
from .. import pipeline
from ..operators.union_ops import (
    greedy_best_pairs,
    interleave_results,
    name_similarity_df,
    union_score,
)

MAX_SCROLL = 10_000  # reference search/__init__.py:576-577


@dataclass
class SearchQuery:
    keywords: str = ""
    filters: dict[str, list] = field(default_factory=dict)   # col -> values
    exclude_ids: list = field(default_factory=list)          # must_not
    page: int = 1
    size: int = TOP_K_SIZE
    post_filter: str = ""        # ES post_filter: hits only, not aggs


def apply_runtime_fields(df: DataFrame,
                         mappings: dict[str, str]) -> DataFrame:
    """ES runtime fields: named expressions evaluated at query time,
    usable in filters / sorts / aggregations without reindexing.  Each
    mapping is a SQL expression over the document columns (and over
    earlier runtime fields — they apply in given order, like ES
    runtime mappings referencing other runtime fields).

    Catalyst folds these into the scan projection — a runtime field
    used only in a filter is collapsed into the pushed predicate and
    costs no extra pass, which is exactly ES's "computed at query
    time, paid only when accessed" contract."""
    for name, expr in mappings.items():
        df = df.withColumn(name, F.expr(expr))
    return df


class SearchService:
    """Search over a documents table (id/text + keyword metadata).

    ``synonyms``: search-time expansion map (the reference applies ES
    ``synonym_graph`` on every search, elasticsearch.yml:16-24; parse
    an ES-style file with ``analysis.load_synonyms``).  Keyword
    queries then use Lucene SynonymQuery semantics per query token
    (pipeline.bm25_topk_synonyms)."""

    def __init__(self, docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 synonyms: dict[str, list[str]] | None = None,
                 runtime_mappings: dict[str, str] | None = None):
        self.docs = (apply_runtime_fields(docs, runtime_mappings)
                     if runtime_mappings else docs)
        self.id_col = id_col
        self.text_col = text_col
        self.synonyms = synonyms

    def _filtered(self, q: SearchQuery) -> DataFrame:
        d = self.docs
        for col, values in q.filters.items():
            d = d.filter(F.col(col).isin(values))       # terms filter
        if q.exclude_ids:
            d = d.filter(~F.col(self.id_col).isin(q.exclude_ids))
        return d

    def search(self, q: SearchQuery,
               facets: list[str] | None = None,
               global_facets: list[str] | None = None) -> dict:
        """→ {hits: DataFrame(id, score), total_shown, facets:
        {col: DataFrame(value, n)}} with the reference's pagination
        rules applied.

        ``q.post_filter`` (ES post_filter) narrows the HITS only —
        facets still describe the pre-post_filter hit set, the
        faceted-navigation contract ("show counts for every brand
        while the user has one brand ticked").  ``global_facets``
        (ES ``global`` aggregation) escape the query scope entirely:
        counts over the whole corpus, ignoring query and filters."""
        if q.page * q.size > MAX_SCROLL:
            raise ValueError(
                f"page*size exceeds the {MAX_SCROLL} scroll cap")
        agg_base = self._filtered(q)
        base = (agg_base.where(F.expr(q.post_filter))
                if q.post_filter else agg_base)
        if q.keywords.strip():
            if self.synonyms:
                scored = pipeline.bm25_topk_synonyms(
                    base, q.keywords, self.synonyms, k=q.page * q.size,
                    id_col=self.id_col, text_col=self.text_col)
            else:
                scored = pipeline.bm25_topk(
                    base, q.keywords, k=q.page * q.size,
                    id_col=self.id_col, text_col=self.text_col)
        else:
            scored = base.select(
                F.col(self.id_col), F.lit(0.0).alias("score")) \
                .orderBy(self.id_col).limit(q.page * q.size)
        # page slice (ES from_/size): rank rows, keep the page window.
        # The unpartitioned Window is bounded by construction: its
        # input is the top-k limit above, and page*size is capped at
        # 10k rows (ES scroll guard, SearchQuery.validate) — never a
        # whole-table sort at any scale.
        from pyspark.sql.window import Window
        w = Window.orderBy(F.desc("score"), F.asc(self.id_col))
        hits = (scored.withColumn("_rank", F.row_number().over(w))
                .filter((F.col("_rank") > (q.page - 1) * q.size)
                        & (F.col("_rank") <= q.page * q.size))
                .drop("_rank"))
        out = {"hits": hits}
        if facets:
            # ES terms aggregations describe the FULL hit set, not the
            # page window (reference search/__init__.py:587-603) — one
            # scan over the filtered base, independent of pagination
            # AND of post_filter (the ES post_filter contract).
            out["facets"] = {
                c: pipeline.facet_counts(
                    agg_base, q.keywords, c,
                    id_col=self.id_col, text_col=self.text_col)
                for c in facets}
        if global_facets:
            # ES `global` agg: whole corpus, query and filters ignored
            out["global_facets"] = {
                c: self.docs.groupBy(c).agg(
                    F.count(F.lit(1)).alias("n"))
                for c in global_facets}
        return out

    def fuzzy_match(self, name_col: str, query: str,
                    max_edits: int = 2) -> DataFrame:
        """ES ``fuzzy`` on .raw fields → levenshtein <= 2 (reference
        join.py:166-169, union.py:93-99)."""
        return (self.docs
                .withColumn("_dist",
                            F.levenshtein(F.lower(F.col(name_col)),
                                          F.lit(query.lower())))
                .filter(F.col("_dist") <= max_edits)
                .orderBy("_dist", self.id_col)
                .drop("_dist"))


# ---------------------------------------------------------------------
# augmentation search assembly (reference search/__init__.py:369-420,
# join.py:557-721, union.py:58-241)
# ---------------------------------------------------------------------

def join_candidates(query_ranges: DataFrame, coverage: DataFrame,
                    cand_id: str = "cand_id", k: int = TOP_K_SIZE
                    ) -> DataFrame:
    """Join-candidate search on numerical/temporal coverage: interval
    overlap scoring, sorted (score desc, id asc), cut to k."""
    from ..operators.joins import range_overlap_score
    return range_overlap_score(coverage, query_ranges, cand_id).limit(k)


def union_candidates(left_columns: list[str],
                     right_tables: dict[str, list[str]],
                     es_scores: dict[str, float] | None = None,
                     spark=None, min_pairs: int = 2) -> list[dict]:
    """Union-candidate search (reference union.py:58-241): per
    candidate table, 3-gram name similarity over all column pairs,
    greedy best-pair matching (require >= min_pairs), union score =
    (sum sims / n_left_columns) * keyword score."""
    rows = []
    for cand, cols in right_tables.items():
        for lc in left_columns:
            for rc in cols:
                rows.append((cand, lc.lower(), rc.lower()))
    if not rows:
        return []
    pairs = spark.createDataFrame(
        rows, "cand string, left_name string, right_name string")
    sims = name_similarity_df(pairs).toPandas()
    # in the reference, candidate pairs come from an ES fuzzy search
    # (already similar); standalone we drop zero-similarity pairs
    sims = sims[sims["similarity"] > 0.0]
    out = []
    for cand, grp in sims.groupby("cand"):
        best = greedy_best_pairs(
            grp[["left_name", "right_name", "similarity"]])
        if len(best) < min_pairs:
            continue
        score = union_score([s for _, _, s in best], len(left_columns),
                            (es_scores or {}).get(cand, 1.0))
        out.append({"id": cand, "score": score,
                    "pairs": [(a, b) for a, b, _ in best]})
    out.sort(key=lambda d: (-d["score"], d["id"]))
    return out


def augmentation_search(join_results: DataFrame, union_results: DataFrame,
                        k: int = TOP_K_SIZE) -> DataFrame:
    """Zip-interleave join and union candidate lists, cut to top-k
    (reference search/__init__.py:369-420)."""
    j = join_results.select(F.col("id"), F.col("score"),
                            F.lit("join").alias("kind"))
    u = union_results.select(F.col("id"), F.col("score"),
                             F.lit("union").alias("kind"))
    return interleave_results(j.unionByName(u), kind_col="kind", k=k)


def keyword_filter_boost(docs: DataFrame, query: str, weight: float = 10.0,
                         id_col: str = "doc_id", text_col: str = "text"
                         ) -> DataFrame:
    """function_score-with-filter semantics (reference
    ``search/__init__.py:112-161``: sup-index keyword match wrapped as
    ``{filter: multi_match..., weight: 10}``): score = ``weight`` when
    the conjunctive keyword filter matches, else the doc is dropped."""
    from ..analysis import analyze_query
    from ..pipeline import tokens
    terms = analyze_query(query)
    if not terms:
        return pipeline._no_hits(docs, id_col)
    tok = tokens(docs, id_col, text_col).filter(F.col("term").isin(terms))
    hits = (tok.groupBy("doc_id")
            .agg(F.count_distinct("term").alias("nt"))
            .filter(F.col("nt") == len(terms)))
    return hits.select(F.col("doc_id").alias(id_col),
                       F.lit(float(weight)).alias("score"))


def terms_lookup_filter(df: DataFrame, col: str, lookup_df: DataFrame,
                        lookup_id_col: str, lookup_id,
                        path_col: str) -> DataFrame:
    """ES ``terms`` query with *terms lookup*: the value list comes
    from another document's array field ({index, id, path}) instead
    of the request body.  ES executes this as a single GET on the
    lookup doc followed by an ordinary terms filter — mirrored here:
    ONE driver-side fetch of one row (bounded by contract: lookup ids
    are unique keys), then a pushed ``isin`` on the fact scan.  An
    absent lookup doc or empty list matches nothing (ES contract)."""
    row = (lookup_df.where(F.col(lookup_id_col) == F.lit(lookup_id))
           .select(path_col).first())
    vals = list(row[0]) if row is not None and row[0] is not None \
        else []
    if not vals:
        return df.where(F.lit(False))
    return df.where(F.col(col).isin(vals))


class AliasRegistry:
    """ES index aliases: named indirections over document tables,
    optionally carrying a filter (filtered alias) and a write flag
    (``is_write_index`` — exactly one writable target per alias, the
    rollover contract).

    An alias resolves to the UNION of its targets with each target's
    filter applied — reads fan out like ES alias resolution; the
    filter is a plain predicate Catalyst pushes into each scan, so a
    filtered alias costs the same as querying the filtered table
    directly."""

    def __init__(self):
        self._targets: dict[str, list[dict]] = {}

    def add(self, alias: str, df: DataFrame, filter_expr: str = "",
            is_write_index: bool = False) -> None:
        entries = self._targets.setdefault(alias, [])
        if is_write_index and any(e["write"] for e in entries):
            raise ValueError(
                f"alias {alias!r} already has a write index")
        entries.append({"df": df, "filter": filter_expr,
                        "write": is_write_index})

    def remove(self, alias: str) -> None:
        self._targets.pop(alias, None)

    def resolve(self, alias: str) -> DataFrame:
        entries = self._targets.get(alias)
        if not entries:
            raise KeyError(f"unknown alias {alias!r}")
        dfs = [e["df"].where(F.expr(e["filter"])) if e["filter"]
               else e["df"] for e in entries]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def write_target(self, alias: str) -> DataFrame:
        entries = self._targets.get(alias, [])
        for e in entries:
            if e["write"]:
                return e["df"]
        raise ValueError(f"alias {alias!r} has no write index")

    def rollover(self, alias: str, new_df: DataFrame,
                 max_docs: int | None = None,
                 dry_run: bool = False) -> dict:
        """ES ``_rollover`` (the ILM hot-phase action): evaluate the
        conditions against the alias's CURRENT write index and, when
        every condition is met, demote it to a read-only target and
        install ``new_df`` as the new write index — reads keep
        fanning out over all generations, writes land only in the
        newest (the time-sliced index pattern that keeps per-index
        builds bounded at 100 TB; ``search_multi_index`` is the
        query-side twin).  Supported condition: ``max_docs`` (age/
        size need ingest metadata a plain table doesn't carry —
        documented).  Returns the ES-shaped response
        ``{rolled_over, dry_run, conditions, doc_count}``."""
        entries = self._targets.get(alias)
        if not entries:
            raise KeyError(f"unknown alias {alias!r}")
        w = next((e for e in entries if e["write"]), None)
        if w is None:
            raise ValueError(f"alias {alias!r} has no write index")
        n = w["df"].count()
        conditions: dict[str, bool] = {}
        if max_docs is not None:
            conditions[f"[max_docs: {max_docs}]"] = n >= max_docs
        met = bool(conditions) and all(conditions.values())
        if met and not dry_run:
            w["write"] = False
            entries.append({"df": new_df, "filter": "",
                            "write": True})
        return {"rolled_over": met and not dry_run,
                "dry_run": dry_run, "conditions": conditions,
                "doc_count": int(n)}


def mget(df: DataFrame, ids: list, id_col: str = "doc_id"
         ) -> DataFrame:
    """ES ``_mget``: fetch documents by id list in ONE request — a
    pushed ``isin`` (or a broadcast semi-join for very large lists);
    missing ids are simply absent (ES found:false).  Results carry a
    ``_requested_order`` column so callers can restore request
    order (ES returns docs in request order)."""
    order = F.array_position(
        F.array(*[F.lit(i) for i in ids]), F.col(id_col))
    return (df.where(F.col(id_col).isin(ids))
            .withColumn("_requested_order", order.cast("int")))
