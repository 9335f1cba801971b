"""Reference answers and the checks against them.

Search answers come from ``auctus_spark.oracle.OracleIndex``, the
pure-Python BM25 scorer the engine must match bit for bit (docIDs and
float64 scores, ranked by score desc, docID asc).  Operator answers
come from each query's ``oracle_sql()`` text run on DuckDB, with the
same normalization as ``scripts/check_entry.py``; queries without an
oracle text get a row-count check.
"""

from __future__ import annotations

import os
from collections import Counter

import pandas as pd

from auctus_spark.analysis import tokenize
from auctus_spark.oracle import OracleIndex

Ranked = list[tuple[int, float]]


def check_ranked(got: Ranked, want: Ranked) -> bool:
    """Bit-exact: same docIDs in the same order with identical
    float64 scores."""
    return len(got) == len(want) and all(
        g[0] == w[0] and g[1] == w[1] for g, w in zip(got, want))


def check_write(got: Ranked, want: Ranked) -> bool:
    """Check after a write (append, delete, compaction): bit-exact, and
    the reference answer must not be empty, since an empty answer
    cannot show whether the write took effect."""
    return bool(want) and check_ranked(got, want)


class LiveOracle:
    """OracleIndex kept in step with an index under appends, deletes
    and compaction.

    Deletes follow the engine's Lucene semantics: until compaction,
    N, df and avgdl keep counting deleted documents and deleted docIDs
    are only masked from results.  Compaction removes them from the
    statistics, so afterwards the oracle equals a fresh build over the
    live documents."""

    def __init__(self, docs: list[tuple[int, str]]):
        self.idx = OracleIndex.build(docs)
        self.dead: set[int] = set()

    def _refresh_stats(self) -> None:
        self.idx.n_docs = len(self.idx.doc_len)
        total = sum(self.idx.doc_len.values())
        self.idx.avgdl = total / self.idx.n_docs if self.idx.n_docs else 0.0

    def add(self, docs: list[tuple[int, str]]) -> None:
        for doc_id, text in docs:
            toks = tokenize(text, stem=self.idx.stem)
            self.idx.doc_len[doc_id] = len(toks)
            for term, tf in Counter(toks).items():
                self.idx.postings.setdefault(term, {})[doc_id] = tf
        self._refresh_stats()

    def delete(self, doc_ids) -> None:
        self.dead |= set(doc_ids) & set(self.idx.doc_len)

    def compact(self) -> None:
        for d in self.dead:
            self.idx.doc_len.pop(d, None)
        for term in list(self.idx.postings):
            post = self.idx.postings[term]
            for d in self.dead & post.keys():
                del post[d]
            if not post:
                del self.idx.postings[term]
        self.dead.clear()
        self._refresh_stats()

    def search(self, query: str, k: int) -> Ranked:
        hits = self.idx.search(query, k=k + len(self.dead))
        return [h for h in hits if h[0] not in self.dead][:k]

    def search_or(self, query: str, k: int) -> Ranked:
        hits = self.idx.search_or(query, k=k + len(self.dead))
        return [h for h in hits if h[0] not in self.dead][:k]


# ---------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------

def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form (as in scripts/check_entry.py):
    sorted columns, strings, floats rounded to 6 places, sorted rows."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif "float" in str(pdf[c].dtype):
            pdf[c] = pdf[c].round(6).astype("float64")
        elif "int" in str(pdf[c].dtype).lower():
            pdf[c] = pdf[c].astype("int64")
        elif "datetime" in str(pdf[c].dtype):
            pdf[c] = pdf[c].astype("datetime64[us]").astype(str)
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def write_operator_answers(tables_dir: str, table_names: list[str],
                           names: list[str], out_dir: str) -> None:
    """``<out_dir>/<name>.parquet``: the normalized DuckDB answer of
    each query that has an oracle text, over the generated tables."""
    import duckdb

    import __spark_entry__ as entry
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in table_names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{tables_dir}/{t}.parquet'")
        for name in names:
            if name in sql:
                normalize(con.sql(sql[name]).df()).to_parquet(
                    os.path.join(out_dir, f"{name}.parquet"))
    finally:
        con.close()


def check_operator(got: pd.DataFrame, want: pd.DataFrame | None,
                   rows_only: int | None = None) -> bool:
    """Equal to the normalized oracle answer, or, for a query without
    an oracle text, ``rows_only`` rows."""
    if want is None:
        return len(got) == rows_only
    return normalize(got).equals(want)
