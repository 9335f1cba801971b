"""End-to-end Auctus apiserver chain over Spark tables.

The reference's strongest integration test (``tests/test_integ.py:
149-205``) drives the full loop: profile fixture datasets → assert the
exact dataset/column/coverage documents the profiler wrote to ES →
search them (keyword, joinable, unionable).  This module is that loop
as a library surface: :class:`MetadataCatalog` profiles datasets with
:func:`profile_dataset` (``lib_profiler/datamart_profiler/core.py:
524-990`` analog), materializes the three document tables the
apiserver queries (``common.py:451-467`` writes them to the datasets/
columns ES indices), and answers the three search families over them
(``apiserver/apiserver/search/__init__.py`` keyword query,
``join.py:150-252`` coverage scoring, ``union.py:58-241`` column-pair
matching).

Scale shape: profiling is the distributed work (one conditional-
aggregation pass per dataset plus one min/max span pass); the document
tables are metadata-scale (one row per dataset/column — exactly like
the reference, where profiles live in ES while data stays in object
storage), so search over them is broadcast-sized by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import TOP_K_SIZE
from .. import pipeline
from ..session import no_rows
from ..operators.union_ops import (
    greedy_best_pairs,
    name_similarity_df,
    union_score,
)

_COLUMNS_SCHEMA = ("dataset_id string, column string, "
                   "structural_type string, semantic_types string, "
                   "num_distinct_values long, mean double, "
                   "stddev double")
_COVERAGE_SCHEMA = ("dataset_id string, column string, kind string, "
                    "gte double, lte double, gte_s string, lte_s string")
_DATASETS_SCHEMA = ("dataset_id string, name string, "
                    "description string, attribute_keywords string, "
                    "nb_rows long, nb_columns long, "
                    "nb_numerical_columns long, "
                    "nb_categorical_columns long, "
                    "nb_spatial_columns long, nb_temporal_columns long, "
                    "types string")


class MetadataCatalog:
    """Profile datasets into the Auctus document tables and search
    them.  One instance per catalog; ``add_dataset`` runs the
    profiler, the ``*_table()`` accessors return the document tables
    as DataFrames, and ``keyword_search`` / ``join_search`` /
    ``union_search`` mirror the apiserver's three search families."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._meta: dict[str, dict] = {}

    # ---------------- ingest (profile) --------------------------------
    def add_dataset(self, dataset_id: str, df: DataFrame,
                    description: str = "", name: str | None = None,
                    **profile_kw) -> dict:
        """Profile ``df`` and register its documents.  Returns the raw
        profile dict (reference ``process_dataset`` metadata doc)."""
        from ..operators.profile_dataset import profile_dataset
        prof = profile_dataset(df, **profile_kw)
        dtypes = dict(df.dtypes)
        # exact numeric/temporal coverage spans in ONE extra pass (the
        # KMeans range sketch in the profile is the ES-parity artifact;
        # the join-search scorer consumes plain min/max spans)
        num_cols, ts_cols = [], []
        for c in prof["columns"]:
            sem = c["semantic_types"]
            if "DATE_TIME" in sem:
                ts_cols.append(c["name"])
            elif (c["structural_type"] in ("INTEGER", "FLOAT")
                    and "LATITUDE" not in sem and "LONGITUDE" not in sem):
                num_cols.append(c["name"])
        aggs = []
        for c in num_cols:
            aggs += [F.min(F.col(c).cast("double")).alias(f"{c}__lo"),
                     F.max(F.col(c).cast("double")).alias(f"{c}__hi")]
        for c in ts_cols:
            aggs += [F.min(c).alias(f"{c}__lo"),
                     F.max(c).alias(f"{c}__hi")]
        spans = df.agg(*aggs).collect()[0] if aggs else {}
        self._meta[dataset_id] = {
            "profile": prof,
            "name": name or dataset_id,
            "description": description,
            "dtypes": dtypes,
            "num_cols": num_cols, "ts_cols": ts_cols,
            "spans": spans,
        }
        return prof

    # ---------------- document tables ---------------------------------
    def datasets_table(self) -> DataFrame:
        rows = []
        for ds, m in sorted(self._meta.items()):
            p = m["profile"]
            rows.append((
                ds, m["name"], m["description"],
                " ".join(p["attribute_keywords"]),
                p["nb_rows"], p["nb_columns"],
                p["nb_numerical_columns"], p["nb_categorical_columns"],
                p["nb_spatial_columns"], p["nb_temporal_columns"],
                ",".join(p["types"])))
        return self.spark.createDataFrame(rows, _DATASETS_SCHEMA)

    def columns_table(self) -> DataFrame:
        rows = []
        for ds, m in sorted(self._meta.items()):
            for c in m["profile"]["columns"]:
                rows.append((
                    ds, c["name"], c["structural_type"],
                    ",".join(c["semantic_types"]),
                    c["num_distinct_values"],
                    c.get("mean"), c.get("stddev")))
        return self.spark.createDataFrame(rows, _COLUMNS_SCHEMA)

    def coverage_table(self) -> DataFrame:
        """Plain min/max spans per numerical/temporal column — the
        candidate side of :meth:`join_search` (temporal spans carry
        both the epoch-seconds double and the string form the
        reference stores in ``temporal_coverage`` ranges)."""
        rows = []
        for ds, m in sorted(self._meta.items()):
            sp = m["spans"]
            for c in m["num_cols"]:
                rows.append((ds, c, "numerical",
                             float(sp[f"{c}__lo"]), float(sp[f"{c}__hi"]),
                             None, None))
            for c in m["ts_cols"]:
                lo, hi = sp[f"{c}__lo"], sp[f"{c}__hi"]
                rows.append((ds, c, "temporal",
                             lo.timestamp(), hi.timestamp(),
                             str(lo), str(hi)))
        return self.spark.createDataFrame(rows, _COVERAGE_SCHEMA)

    def documents(self) -> DataFrame:
        """(dataset_id, text) keyword-search corpus: id + name +
        description + attribute keywords — the fields the reference's
        ``multi_match`` targets (``search/__init__.py:57-109``:
        id/description/name/attribute_keywords)."""
        rows = [(ds, " ".join([ds, m["name"], m["description"],
                               " ".join(m["profile"]
                                        ["attribute_keywords"])]))
                for ds, m in sorted(self._meta.items())]
        return self.spark.createDataFrame(rows,
                                          "dataset_id string, text string")

    # ---------------- search families ---------------------------------
    def keyword_search(self, query: str, k: int = TOP_K_SIZE
                       ) -> DataFrame:
        """Conjunctive-AND BM25 over the metadata documents."""
        return pipeline.bm25_topk(self.documents(), query, k=k,
                                  id_col="dataset_id", text_col="text")

    def join_search(self, q_gte: float, q_lte: float,
                    kind: str = "numerical", k: int = TOP_K_SIZE
                    ) -> DataFrame:
        """Joinable-dataset search: interval-overlap score of the
        query range against every column span of ``kind`` (reference
        ``join.py:150-252`` nested range query + painless score).
        Returns (dataset_id, column, score)."""
        from ..operators.joins import range_overlap_score
        cov = (self.coverage_table()
               .filter(F.col("kind") == kind)
               .select(F.concat_ws("\x00", "dataset_id", "column")
                       .alias("cand_key"), "gte", "lte"))
        qr = self.spark.createDataFrame([(float(q_gte), float(q_lte))],
                                        "q_gte double, q_lte double")
        scored = range_overlap_score(cov, qr, "cand_key").limit(k)
        return scored.select(
            F.split_part("cand_key", F.lit("\x00"), F.lit(1))
            .alias("dataset_id"),
            F.split_part("cand_key", F.lit("\x00"), F.lit(2))
            .alias("column"),
            "score")

    def _match_keys(self, ds: str) -> list[tuple[str, str]]:
        """(column, match-key) pairs: DATETIME for temporal columns,
        else the structural type — the reference pairs union columns
        by fuzzy name AND same type (``union.py:58-167``)."""
        out = []
        for c in self._meta[ds]["profile"]["columns"]:
            key = ("DATETIME" if "DATE_TIME" in c["semantic_types"]
                   else c["structural_type"])
            out.append((c["name"], key))
        return out

    def union_search(self, left_id: str, min_pairs: int = 2,
                     es_scores: dict[str, float] | None = None
                     ) -> DataFrame:
        """Unionable-dataset search over the PROFILED column table:
        same-type column pairs scored by 3-gram name similarity,
        greedy best-pair matching, >= ``min_pairs`` rule, union score
        = (sum sims / n_left_columns) * keyword score (reference
        ``union.py:58-241``).  Returns one row per kept pair:
        (cand_id, left_name, right_name, similarity, n_pairs, score).
        """
        left_cols = self._match_keys(left_id)
        n_left = len(left_cols)
        rows = []
        for cand in sorted(self._meta):
            if cand == left_id:
                continue
            for rc, rk in self._match_keys(cand):
                for lc, lk in left_cols:
                    if lk == rk:
                        rows.append((cand, lc.lower(), rc.lower()))
        empty = no_rows(
            self.spark, "cand_id string, left_name string, right_name "
                        "string, similarity double, n_pairs long, "
                        "score double")
        if not rows:
            return empty
        pairs = self.spark.createDataFrame(
            rows, "cand string, left_name string, right_name string")
        sims = name_similarity_df(pairs).toPandas()
        sims = sims[sims["similarity"] > 0.0]
        out = []
        for cand, grp in sims.groupby("cand"):
            best = greedy_best_pairs(
                grp[["left_name", "right_name", "similarity"]])
            if len(best) < min_pairs:
                continue
            score = union_score([s for _, _, s in best], n_left,
                                (es_scores or {}).get(cand, 1.0))
            for ln, rn, sim in best:
                out.append((cand, ln, rn, float(sim), len(best),
                            float(score)))
        if not out:
            return empty
        return (self.spark.createDataFrame(
            out, "cand_id string, left_name string, right_name string, "
                 "similarity double, n_pairs long, score double")
            .orderBy(F.desc("score"), "cand_id", "left_name"))
