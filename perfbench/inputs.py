"""Benchmark inputs: seeded per run, cached on disk.

Everything the program receives is made here.  From ``--seed``: the
code-file corpus (``auctus_spark.corpus.generate_corpus``, the
generator ``corpus_dataframe(seed=...)`` runs per partition), the
chunks appended during ingest, and the query pools.  Fixed for every
seed: the four tables the operator mix reads.  Reference answers for
the query pools and the operator mix are computed here too, so they
stay outside every timed section and outside set-up.  Inputs are
written once under the cache directory and reused by later runs.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from auctus_spark.analysis import analyze_query
from auctus_spark.corpus import generate_corpus

from . import reference

# Index shape.  The base corpus is BASE_CHUNKS whole chunks, and each
# append is one whole chunk, so every append lands in a new chunk.
CHUNK_DOCS = 2048
BASE_CHUNKS = 1
BASE_DOCS = CHUNK_DOCS * BASE_CHUNKS
DOC_BUCKET = 512
TERM_BUCKETS = 16
TOP_K = 50

# Term classes by document frequency, as shares of the base corpus.
HOT_DF_SHARE = 0.30
MID_DF_SHARE = (0.02, 0.30)
TAIL_MAX_DF = 10

POOL_SIZE = 16          # distinct queries per op type
BATCH_SIZE = 8          # queries per search_many call
# The light mix runs in every run and is timed end to end; the heavy
# mix (several seconds of Spark jobs each even on tiny inputs) runs in
# traced runs only, for its per-layer numbers.
LIGHT_OPERATORS = ["percentile_profile", "boxplot", "mad_value", "tpch_q1"]
HEAVY_OPERATORS = ["minhash_dedup", "ngram_jaccard_dups",
                   "lazo_containment", "dedup_clusters",
                   "frequent_item_sets", "profile_dataset"]
OPERATORS = LIGHT_OPERATORS + HEAVY_OPERATORS
OPERATOR_TABLES = ["documents", "lineitem", "events", "orders"]
# profile_dataset has no oracle text; its answer is one row per
# column of the orders table
ROWS_ONLY = {"profile_dataset": 6}

# Cache entries are keyed by the input shape, so changing it never
# reuses stale inputs.
CACHE_VERSION = f"1-{BASE_DOCS}x{CHUNK_DOCS}-{POOL_SIZE}"


def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def _write_corpus(pdf: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """docID-ordered files of contiguous ranges: each scan task owns a
    disjoint docID range, as the index builder requires."""
    os.makedirs(out_dir)
    bounds = np.linspace(0, len(pdf), n_files + 1).astype(int)
    for i in range(n_files):
        _write_parquet(pdf.iloc[bounds[i]:bounds[i + 1]],
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------------
# operator tables (the schemas of the TPC-H-like tables in TESTDATA.md)
# ---------------------------------------------------------------------

_DOC_WORDS = ("join hash row batch scan column customer filter small "
              "slow merge order vector line table data agg value key "
              "stream window a spark part group big sort query fast "
              "the").split()
_LANGS = ["en", "zh", "es", "de", "fr"]


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            # near-duplicate of an earlier document (one extra token:
            # shingle Jaccard far above the 0.8 LSH threshold)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(_DOC_WORDS, k)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]") \
        .astype("datetime64[us]")


def _lineitem(rng, n: int) -> pd.DataFrame:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, 2000, n),
        "l_suppkey": rng.integers(0, 100, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
    })


def _events(rng, n: int) -> pd.DataFrame:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span_us, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, n),
        "event_type": rng.choice(
            ["signup", "error", "click", "view", "purchase"], n),
        "value": np.round(np.clip(rng.lognormal(3.5, 1.0, n), 0.01,
                                  490.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _orders(rng, n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 1500, n),
        "o_orderstatus": rng.choice(["P", "O", "F"], n),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n), 2),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n),
    })


def _operator_tables(out_dir: str) -> None:
    """Fixed tables: the operator mix reads the same data in every run
    (the seed only permutes the order of the mix)."""
    rng = np.random.Generator(np.random.PCG64(7919))
    os.makedirs(out_dir)
    for name, pdf in (("documents", _documents(rng, 500)),
                      ("lineitem", _lineitem(rng, 60_000)),
                      ("events", _events(rng, 10_000)),
                      ("orders", _orders(rng, 15_000))):
        _write_parquet(pdf, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------
# query generator
# ---------------------------------------------------------------------

def term_classes(oracle) -> dict[str, list[str]]:
    """hot: df > 30% of docs; mid: 2%..30%; tail: df <= 10 (this
    includes the corpus's ``uniq_token_*`` terms).  Only terms the
    query analyzer maps to themselves are kept."""
    n = oracle.n_docs
    hot, mid, tail = [], [], []
    for term, post in oracle.postings.items():
        df = len(post)
        if analyze_query(term) != [term]:
            continue
        if df > HOT_DF_SHARE * n:
            hot.append(term)
        elif MID_DF_SHARE[0] * n <= df <= MID_DF_SHARE[1] * n:
            mid.append(term)
        elif df <= TAIL_MAX_DF:
            tail.append(term)
    return {"hot": sorted(hot), "mid": sorted(mid), "tail": sorted(tail)}


def sample_queries(classes: dict[str, list[str]], seed: int) -> dict:
    """Seeded pools per op type; each entry records the term classes
    it was drawn from."""
    rng = np.random.Generator(np.random.PCG64(seed * 104729 + 3))

    def pick(cls, k):
        return [str(t) for t in rng.choice(classes[cls], k, replace=False)]

    def entry(qid, terms, shape):
        return {"id": qid, "q": " ".join(terms), "shape": shape}

    pools: dict[str, list] = {"and_hot": [], "and_tail": [], "or": [],
                              "batch": []}
    for i in range(POOL_SIZE):
        pools["and_hot"].append(
            entry(f"and_hot#{i}", pick("hot", 3), "hot+hot+hot"))
        pools["and_tail"].append(
            entry(f"and_tail#{i}", pick("hot", 1) + pick("tail", 1),
                  "hot+tail"))
        pools["or"].append(
            entry(f"or#{i}", pick("hot", 2) + pick("mid", 2),
                  "hot+hot+mid+mid"))
    shapes = [("hot", "hot"), ("hot", "mid"), ("hot", "tail")]
    for b in range(POOL_SIZE // 4):
        batch = []
        for j in range(BATCH_SIZE):
            a, c = shapes[j % len(shapes)]
            terms = pick(a, 1) + pick(c, 1)
            if terms[0] == terms[1]:
                terms = terms[:1]
            batch.append(entry(f"batch#{b}.{j}", terms, f"{a}+{c}"))
        pools["batch"].append(batch)
    return pools


# ---------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------

class OperatorInputs:
    """The fixed operator tables and their DuckDB answers."""

    def __init__(self, cache_root: str):
        self.dir = os.path.join(cache_root, "tables-v2")
        self.tables_dir = os.path.join(self.dir, "data")
        self.answers_dir = os.path.join(self.dir, "answers")

    def ensure(self) -> None:
        if os.path.exists(os.path.join(self.dir, "_DONE")):
            return
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.answers_dir)
        _operator_tables(self.tables_dir)
        reference.write_operator_answers(self.tables_dir, OPERATOR_TABLES,
                                         OPERATORS, self.answers_dir)
        open(os.path.join(self.dir, "_DONE"), "w").close()

    def answer(self, name: str) -> pd.DataFrame | None:
        path = os.path.join(self.answers_dir, f"{name}.parquet")
        return pd.read_parquet(path) if os.path.exists(path) else None


class SeedInputs:
    """The cached inputs of one seed."""

    def __init__(self, cache_root: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(cache_root, f"v{CACHE_VERSION}",
                                f"seed{seed}")
        self.corpus_dir = os.path.join(self.dir, "corpus")
        self.answers_path = os.path.join(self.dir, "answers.json")

    def ensure(self, n_files: int) -> None:
        if os.path.exists(os.path.join(self.dir, "_DONE")):
            return
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        base = generate_corpus(BASE_DOCS, seed=self.seed)
        _write_corpus(base, self.corpus_dir, n_files)
        oracle = reference.OracleIndex.build(
            list(zip(base.doc_id.tolist(), base.content.tolist())))
        pools = sample_queries(term_classes(oracle), self.seed)
        answers = {
            "input_bytes": int(sum(len(c.encode()) for c in base.content)),
            "pools": pools,
            "search": {
                e["id"]: (oracle.search_or(e["q"], TOP_K) if op == "or"
                          else oracle.search(e["q"], TOP_K))
                for op, pool in pools.items()
                for e in (sum(pool, []) if op == "batch" else pool)},
        }
        with open(self.answers_path, "w") as f:
            json.dump(answers, f)
        open(os.path.join(self.dir, "_DONE"), "w").close()

    def answers(self) -> dict:
        with open(self.answers_path) as f:
            a = json.load(f)
        a["search"] = {k: [(int(d), float(s)) for d, s in v]
                       for k, v in a["search"].items()}
        return a

    def base_docs(self) -> list[tuple[int, str]]:
        t = pq.read_table(self.corpus_dir, columns=["doc_id", "content"])
        return list(zip(t["doc_id"].to_pylist(), t["content"].to_pylist()))

    def append_batch(self, i: int) -> tuple[str, list[tuple[int, str]]]:
        """The i-th appended chunk: parquet path and its (doc_id, text)
        rows."""
        path = os.path.join(self.dir, f"append{i}")
        if not os.path.exists(os.path.join(path, "_DONE")):
            shutil.rmtree(path, ignore_errors=True)
            pdf = generate_corpus(CHUNK_DOCS, seed=self.seed,
                                  start_doc_id=BASE_DOCS + i * CHUNK_DOCS)
            _write_corpus(pdf, path, 1)
            open(os.path.join(path, "_DONE"), "w").close()
        t = pq.read_table(os.path.join(path, "part-000.parquet"),
                          columns=["doc_id", "content"])
        return path, list(zip(t["doc_id"].to_pylist(),
                              t["content"].to_pylist()))
