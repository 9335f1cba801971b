"""Frequent item sets (ES 8.x ``frequent_item_sets`` aggregation —
market-basket association mining over a per-transaction item array).

Reference behavior: elastic/elasticsearch
x-pack frequent-item-sets agg (Eclat-based): returns only CLOSED
frequent item sets (no superset has the same doc_count) whose
support >= ``minimum_support``, sizes >= ``minimum_set_size``.

Spark-first shape (Apriori levels, all declarative):

1. **L1** — explode(distinct items) + partial-agg groupBy: ONE
   shuffle keyed by item.  Items below min support are pruned.
2. **Candidate generation stays JVM-side** — each transaction's
   item array is intersected with the (driver-folded, literal)
   frequent-item list, sorted, then size-2 / size-3 combinations are
   generated with nested ``transform``/``slice``/``flatten`` array
   expressions INSIDE whole-stage codegen — no self-join, no
   per-row Python.  One explode + partial-agg groupBy per level.
3. **Closed filtering** is driver-side over the (small by
   construction — every set is frequent) result: a set is closed iff
   no computed superset has the same doc_count.  With ``max_size``
   capping enumeration, closedness is judged within the computed
   universe (sets of size <= max_size) — documented divergence from
   ES's unbounded Eclat tree, exact whenever the data's closed sets
   fit the cap.

Skew/scale: the only shuffles are the per-level groupBys, which
partial-aggregate map-side; the L1 prune bounds per-transaction
combination fanout by the frequent-item count, and
``max_items_per_tx`` (lexicographic-first, documented) hard-caps a
pathological transaction; the frequent-item list is driver-folded
(ES caps the analyzed field's cardinality the same way).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import no_rows


def _combos2(arr):
    """All (i<j) ordered pairs of a sorted array, JVM-side."""
    return F.flatten(F.transform(
        arr,
        lambda x, i: F.transform(
            F.slice(arr, i + F.lit(2), F.size(arr)),
            lambda y: F.array(x, y))))


def _combos3(arr):
    """All (i<j<l) ordered triples of a sorted array, JVM-side."""
    return F.flatten(F.flatten(F.transform(
        arr,
        lambda x, i: F.transform(
            F.slice(arr, i + F.lit(2), F.size(arr)),
            lambda y, j: F.transform(
                F.slice(arr, i + j + F.lit(3), F.size(arr)),
                lambda z: F.array(x, y, z))))))


def frequent_item_sets(df: DataFrame, items_col: str,
                       min_support: float = 0.1,
                       min_set_size: int = 1,
                       max_size: int = 3,
                       max_items_per_tx: int | None = 64,
                       closed: bool = True) -> DataFrame:
    """Mine frequent item sets from a transactions DataFrame whose
    ``items_col`` is an array<string>.  Returns
    (items string ' '-joined sorted, size, doc_count, support)
    ordered (doc_count desc, items asc) — the ES agg's bucket list.

    ``min_support`` is a transaction fraction: a set is frequent iff
    doc_count >= ceil(min_support * n_transactions).  ``max_size``
    <= 3 (pairs + triples cover the ES default use; the level
    ladder extends mechanically)."""
    if not 1 <= max_size <= 3:
        raise ValueError("max_size must be 1..3")
    spark = df.sparkSession
    tx = df.select(F.array_distinct(F.array_sort(F.col(items_col)))
                   .alias("items"))
    n_tx = tx.count()
    out_schema = ("items string, size int, doc_count long, "
                  "support double")
    if n_tx == 0:
        return no_rows(spark, out_schema)
    min_count = max(1, math.ceil(min_support * n_tx))

    l1 = (tx.select(F.explode("items").alias("i"))
          .groupBy("i").agg(F.count(F.lit(1)).alias("c"))
          .filter(F.col("c") >= min_count))
    l1_rows = l1.collect()
    freq = sorted(r["i"] for r in l1_rows)
    sets: dict[tuple, int] = {(r["i"],): int(r["c"]) for r in l1_rows}

    if freq and max_size >= 2:
        farr = F.array(*[F.lit(i) for i in freq])
        it = F.array_sort(F.array_intersect("items", farr))
        if max_items_per_tx is not None:
            it = F.slice(it, 1, max_items_per_tx)
        pruned = tx.select(it.alias("it")).filter(F.size("it") >= 2)
        pairs = (pruned.select(F.explode(_combos2(F.col("it")))
                               .alias("s"))
                 .groupBy("s").agg(F.count(F.lit(1)).alias("c"))
                 .filter(F.col("c") >= min_count))
        for r in pairs.collect():
            sets[tuple(r["s"])] = int(r["c"])
        if max_size >= 3:
            trip = (pruned.filter(F.size("it") >= 3)
                    .select(F.explode(_combos3(F.col("it")))
                            .alias("s"))
                    .groupBy("s").agg(F.count(F.lit(1)).alias("c"))
                    .filter(F.col("c") >= min_count))
            for r in trip.collect():
                sets[tuple(r["s"])] = int(r["c"])

    rows = []
    for s, c in sets.items():
        if len(s) < min_set_size:
            continue
        if closed and any(
                len(t) > len(s) and c == c2 and set(s) <= set(t)
                for t, c2 in sets.items()):
            continue
        rows.append((" ".join(s), len(s), c, c / n_tx))
    if not rows:
        return no_rows(spark, out_schema)
    return (spark.createDataFrame(rows, out_schema)
            .orderBy(F.desc("doc_count"), F.asc("items")))
