"""Exact distributed heavy hitters (frequent items) via the two-pass
Misra-Gries candidate/verify scheme.

The single-pass answer to "which values occur more than n/k times" is
a full groupBy over every distinct value — at 100 TB that shuffle is
O(distinct), which for open vocabularies (n-grams, URLs, user ids) is
the corpus itself. The classical fix needs no approximation in the
final answer:

1. **Candidates** — each partition runs a weighted Misra-Gries summary
   with capacity ``k`` (bounded memory, no shuffle). Pigeonhole: any
   value with global count > n/k has partition count > n_p/k in at
   least one partition, and weighted MG never evicts such a value, so
   the union of the per-partition summaries is a superset of the true
   heavy hitters — at most ``k`` candidates per partition.
2. **Verify** — exact counts for the candidate set only: a broadcast
   semi-join (candidates are tiny by construction) followed by a
   groupBy whose key space is ≤ partitions×k, then the exact
   ``count·k > n`` filter.

Net: one full scan + one candidate-bounded aggregate instead of a
distinct-sized shuffle; the output is EXACT (the MG approximation
only ever widens the candidate set).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duo_spark.operators.materialize import checkpoint


def _mg_merge(cnt: dict, values, weights, capacity: int) -> None:
    """Fold (value, weight) pairs into a weighted Misra-Gries summary
    of at most ``capacity`` entries, in place.

    Weighted decrement rule: when the table is full and a new value
    arrives with weight c, remove d = min(c, min-table-weight) from
    every entry and from c, dropping zeros, until c is exhausted or a
    slot frees up. Any value whose true stream weight exceeds
    (total weight)/(capacity+1) cannot reach zero, so it survives.
    """
    for v, c in zip(values, weights):
        c = int(c)
        if v in cnt:
            cnt[v] += c
            continue
        while c > 0:
            if len(cnt) < capacity:
                cnt[v] = c
                break
            d = min(c, min(cnt.values()))
            c -= d
            dead = []
            for key in cnt:
                cnt[key] -= d
                if cnt[key] <= 0:
                    dead.append(key)
            for key in dead:
                del cnt[key]


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int,
    capacity: int | None = None,
) -> DataFrame:
    """Values of ``col`` occurring STRICTLY more than count(*)/k times,
    with their exact counts: (``col``, cnt).

    ``capacity`` (default ``k``) bounds per-partition summary memory;
    it must be ≥ k for the superset guarantee. The threshold compare
    is integer (``cnt·k > n``) — no float division to flip a hash.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    cap = capacity if capacity is not None else int(k)
    if cap < k:
        raise ValueError(f"capacity {cap} < k {k} breaks the superset guarantee")
    vals = df.select(F.col(col).alias("_v")).filter(F.col("_v").isNotNull())

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one pass yields BOTH the MG candidate summary (rows with a
        # value, _n NULL) and this partition's row count (one row with
        # _v NULL) — so the total needed for the n/k threshold costs no
        # extra scan of the input
        cnt: dict = {}
        seen = 0
        for pdf in batches:
            seen += len(pdf)
            # vectorized pre-aggregation: MG folds distinct values per
            # Arrow batch, not raw rows
            vc = pdf["_v"].value_counts()
            _mg_merge(cnt, vc.index.to_numpy(), vc.to_numpy(), cap)
        yield pd.DataFrame(
            {
                "_v": pd.Series(list(cnt.keys()) + [None], dtype=object),
                "_n": pd.Series([None] * len(cnt) + [seen], dtype="object"),
            }
        )

    summary = checkpoint(vals.mapInPandas(
        mg, schema=f"_v {vals.schema['_v'].dataType.simpleString()}, _n long"
    ))
    n = int(summary.agg(F.sum("_n")).first()[0] or 0)
    cands = summary.filter(F.col("_v").isNotNull()).select("_v").distinct()
    return (
        vals.join(F.broadcast(cands), "_v")
        .groupBy(F.col("_v").alias(col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * k > F.lit(n))
    )
