"""BPE merge induction — tokenizer-vocabulary training as aggregates.

Byte-pair encoding training (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") is the canonical
tokenizer-building step of an LLM data pipeline: repeatedly find the
most frequent adjacent symbol pair in the corpus and merge it into a
new symbol.

Scale shape — the reason BPE fits Spark well: training operates on
the WORD-FREQUENCY table, not the corpus. One pass reduces 100 TB of
text to O(|vocab|) (word, count) rows (hash aggregate, map-side
partials); every merge iteration is then an explode + hash aggregate
over that small table plus a 1-row collect (the argmax pair — the
only driver traffic, k rows total for k merges).

The merge step is pure literal-string Column work (whole-stage
codegen, oracle-replayable — no regex, no UDF): a word's symbol
sequence is kept as a space-joined string, and greedy left-to-right
non-overlapping pair replacement — exactly BPE's merge rule — falls
out of plain ``replace`` after doubling the separators:

    every boundary becomes TWO spaces; the pattern ``" x  y "``
    consumes one space from each side, leaving one for the adjacent
    match, so consecutive occurrences ("a a a a" with pair (a,a))
    merge exactly like BPE's scan ("aa aa"), which single-space
    replace gets wrong (its first match would eat the boundary the
    second needs). Collapse doubles and trim afterwards.

Ties in pair frequency break lexicographically (count desc, pair asc)
so training is deterministic across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duo_spark.operators.materialize import checkpoint, release


def word_freq_table(
    df: DataFrame, text_col: str = "text", min_len: int = 2, max_len: int = 12
) -> DataFrame:
    """(word, cnt) over lowercased letter runs — the corpus reduction
    BPE trains on. ONE hash aggregate; everything after is O(vocab)."""
    words = df.select(
        F.explode(
            F.split(F.lower(F.col(text_col)), r"[^a-z]+")
        ).alias("word")
    )
    return (
        words.filter(
            (F.length("word") >= min_len) & (F.length("word") <= max_len)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _spaced(word) -> F.Column:
    """'hello' -> 'h e l l o' (symbol sequence as a string)."""
    return F.trim(F.regexp_replace(word, "(.)", "$1 "))


def merge_pair(sym, left: str, right: str) -> F.Column:
    """Greedy left-to-right BPE merge of (left, right) in the
    space-joined symbol string ``sym`` — the doubled-separator
    replace documented in the module docstring."""
    doubled = F.concat(
        F.lit(" "), F.replace(sym, F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    merged = F.replace(
        doubled,
        F.lit(f" {left}  {right} "),
        F.lit(f" {left}{right} "),
    )
    return F.trim(F.replace(merged, F.lit("  "), F.lit(" ")))


def bpe_train(
    words: DataFrame, k: int = 3, return_table: bool = True
) -> tuple[DataFrame | None, list[tuple[int, str, str, int]]]:
    """``k`` BPE merges over a (word, cnt) table.

    Returns (final symbolized word table, merge list): the merge list
    is [(iteration, left, right, weighted pair count)], the artifact
    a tokenizer ships. One 1-row collect per iteration (the argmax
    pair) is the only driver traffic.

    The iteration state rotates through eager checkpoints, each
    superseded one released — NOT cache()/unpersist() (round-8 fix,
    SCALING.md probe 18): a cached rotation leaves each iteration's
    ANALYZED plan referencing the full projection chain back to the
    source, and re-analyzing that growing tree every iteration
    compounds GEOMETRICALLY
    (measured ~1.7× per merge: iteration 18 took 97 s and tens of GB
    of driver heap on a 30-word table). The checkpoint truncates the
    lineage, making per-iteration cost flat (~0.2 s) and k-linear
    total — the difference between k≈15 and tokenizer-scale k.
    ``return_table=False`` (ADVICE r7) returns None as the first
    element when only the merge list is wanted, and releases the final
    table too.

    Scale note: greedy top-1 still runs one Spark job per merge —
    exact (the oracle contract) but driver-bound at k≈30k.
    :func:`bpe_train_batched` cuts that to ~k/B jobs.
    """
    cur = checkpoint(words.select("cnt", _spaced(F.col("word")).alias("sym")))
    merges: list[tuple[int, str, str, int]] = []
    for it in range(1, k + 1):
        pairs = _pair_counts(cur)
        top = pairs.orderBy(F.col("total").desc(), F.col("pair")).limit(1).collect()
        if not top:
            break
        pair, total = top[0]["pair"], int(top[0]["total"])
        left, right = pair.split(" ")
        merges.append((it, left, right, total))
        nxt = checkpoint(cur.select(
            "cnt", merge_pair(F.col("sym"), left, right).alias("sym")
        ))
        release(cur)
        cur = nxt
    if not return_table:
        release(cur)
        return None, merges
    return cur, merges


def _pair_counts(cur: DataFrame) -> DataFrame:
    """(pair, total) over the symbolized word table — the per-round
    aggregate both trainers share."""
    return (
        cur.select("cnt", F.split("sym", " ").alias("a"))
        .filter(F.size("a") >= 2)
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(a) - 2),"
                    " i -> concat(element_at(a, i + 1), ' ',"
                    " element_at(a, i + 2)))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("cnt").alias("total"))
    )


def bpe_train_batched(
    words: DataFrame,
    k: int = 3,
    batch: int = 8,
    return_table: bool = True,
) -> tuple[DataFrame | None, list[tuple[int, str, str, int]]]:
    """BPE training with B merges per Spark job — the tokenizer-scale
    path (VERDICT r7 #5): greedy top-1 is one job per merge, which
    binds the DRIVER at k≈30k (30k sequential job submissions over a
    table that fits one executor); this variant takes the top-``batch``
    pairwise SYMBOL-DISJOINT pairs per round and applies them in one
    literal-replace pass, so k merges cost ~k/B jobs.

    Why disjointness: merging (a,b)→ab only rewrites symbols a and b,
    so it cannot create or destroy occurrences of any pair built from
    symbols ∉ {a,b} — every pair selected this round still has its
    counted frequency when its turn comes. The approximation vs
    sequential greedy is that a merge may CREATE a new pair (e.g.
    ``x·ab``) that outranks the round's remaining selections;
    sequential greedy would pick it first. Standard large-vocab
    trainers (SentencePiece's --train_extremely_large_corpus regime)
    accept exactly this trade. When merges don't interact the output
    is PINNED IDENTICAL to :func:`bpe_train` (unit-tested).

    Same return contract and checkpoint lineage rotation as
    :func:`bpe_train`.
    """
    cur = checkpoint(words.select("cnt", _spaced(F.col("word")).alias("sym")))
    merges: list[tuple[int, str, str, int]] = []
    it = 0
    while it < k:
        want = min(batch, k - it)
        # over-fetch: disjointness filtering can reject candidates
        top = (
            _pair_counts(cur)
            .orderBy(F.col("total").desc(), F.col("pair"))
            .limit(want * 4)
            .collect()
        )
        if not top:
            break
        used: set[str] = set()
        round_merges: list[tuple[str, str, int]] = []
        for r in top:
            left, right = r["pair"].split(" ")
            merged = left + right
            if {left, right, merged} & used:
                continue
            used.update((left, right, merged))
            round_merges.append((left, right, int(r["total"])))
            if len(round_merges) >= want:
                break
        if not round_merges:
            break
        sym = F.col("sym")
        for left, right, total in round_merges:
            it += 1
            merges.append((it, left, right, total))
            sym = merge_pair(sym, left, right)
        nxt = checkpoint(cur.select("cnt", sym.alias("sym")))
        release(cur)
        cur = nxt
    if not return_table:
        release(cur)
        return None, merges
    return cur, merges


def merges_df(spark: SparkSession, merges) -> DataFrame:
    """The merge list as a DataFrame (iteration, lhs, rhs, merged,
    pair_count) — k rows, the query-able training artifact. (lhs/rhs,
    not left/right: those are join keywords in every SQL dialect.)"""
    schema = T.StructType(
        [
            T.StructField("iteration", T.IntegerType(), False),
            T.StructField("lhs", T.StringType(), False),
            T.StructField("rhs", T.StringType(), False),
            T.StructField("pair_count", T.LongType(), False),
        ]
    )
    df = spark.createDataFrame(
        [(i, l, r, c) for i, l, r, c in merges], schema
    )
    return df.select(
        "iteration",
        "lhs",
        "rhs",
        F.concat("lhs", "rhs").alias("merged"),
        "pair_count",
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    min_len: int = 2,
    max_len: int = 12,
    words: DataFrame | None = None,
) -> DataFrame:
    """Apply a shipped merge list to a corpus — the ENCODE half of the
    tokenizer (bpe_train learns the merges; this is what a data
    pipeline runs per document forever after): the post-merge
    vocabulary as ``(token, n)`` weighted by word frequency.

    Encoding replays the merges in training order on the word-frequency
    table, so the per-document cost is O(distinct words), not O(corpus)
    — the same reduction training uses, and the reason this stays two
    hash aggregates plus k literal `replace` passes (pure Column
    codegen) at any corpus size. Sennrich et al. 2016 §3: applying
    merges in learned order reproduces the training segmentation.

    Pass ``words`` (a precomputed/cached (word, cnt) table) to skip
    the corpus aggregate — a train-then-encode pipeline already has
    it.
    """
    if words is None:
        words = word_freq_table(df, text_col, min_len, max_len)
    sym = _spaced(F.col("word"))
    for _, left, right, _ in merges:
        sym = merge_pair(sym, left, right)
    return (
        words.select("cnt", F.explode(F.split(sym, " ")).alias("token"))
        .groupBy("token")
        .agg(F.sum("cnt").alias("n"))
    )
