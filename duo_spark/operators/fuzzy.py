"""Fuzzy (edit-distance) self-join — the short-string near-duplicate
case the shingle/minhash family does not cover.

A training-data pipeline needs typo-tolerant matching on SHORT keys
(titles, names, URLs, product ids): Levenshtein distance ≤ k, where
shingle-based similarity is meaningless (a 1-char edit on a 15-char
string moves 3-gram Jaccard wildly, and minhash banding needs dozens
of shingles to stabilize). The scalable formulation is the deletion
neighborhood (SymSpell; Bocek et al. 2007, "Fast Similarity Search in
Big Dictionaries"): if lev(a, b) ≤ k, then deleting at most k chars
from each can reach a common string — so the candidate set is an
EQUI-JOIN on deletion variants, never an all-pairs scan, and exact
`levenshtein` verification runs only inside candidate groups.

Scale shape (the containment_pairs discipline, dedup.py:1003):

- identical strings collapse to one representative first — exact-dup
  explosions are THE hot case in real corpora, and collapsing turns a
  d-duplicate group from d·(L+1) postings into (L+1);
- variants are pure Column ops (transform over a sequence — codegen,
  no UDF), hashed to int64 so the join key shuffles 8 bytes;
- the candidate join is an alias self-join of the SAME exploded frame
  (un-renamed, renames after the join), so AQE plans the variant
  exchange once (ReusedExchange — see containment_pairs);
- verification joins the bounded candidate pairs back to the distinct
  strings and keeps lev ≤ k; intra-group (distance-0) pairs emit
  directly from the collapsed groups.

Candidate volume: a variant's posting list holds only strings whose
neighborhoods collide — for uniformly random strings that is O(1);
adversarial hot variants (e.g. billions of length-1 strings) are
bounded by collapsing and by ``max_len``/``min_len`` guards the
caller can apply upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duo_spark.operators.materialize import checkpoint
from duo_spark.operators.util import ensure_parallelism


def _delete_one(col: F.Column) -> F.Column:
    """All single-character deletions of ``col`` (length-L string ->
    L variants), as an array Column."""
    return F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.concat(
            F.substring(col, F.lit(1), i - 1),
            F.substring(col, i + 1, F.length(col)),
        ),
    )


def deletion_neighborhood(col: F.Column, max_distance: int) -> F.Column:
    """The string plus every variant reachable by deleting up to
    ``max_distance`` characters (distinct), as an array Column."""
    out = F.array(col)
    frontier = F.array(col)
    for _ in range(max_distance):
        frontier = F.array_distinct(
            F.flatten(F.transform(frontier, _delete_one))
        )
        out = F.concat(out, frontier)
    return F.array_distinct(out)


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 1,
) -> DataFrame:
    """All pairs with levenshtein(text_a, text_b) <= max_distance,
    id_a < id_b, with the exact distance. Identical strings pair at
    distance 0."""
    if max_distance < 1:
        raise ValueError(f"max_distance must be >= 1, got {max_distance}")
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
        .filter(F.col("_txt").isNotNull())
    )
    # collapse identical strings (skew guard + free distance-0 pairs)
    grp = checkpoint(
        base.groupBy("_txt")
        .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
        .withColumn("_rid", F.element_at("_ids", 1))
    )
    intra = (
        grp.filter(F.size("_ids") > 1)
        .select("_ids", F.explode("_ids").alias("id_a"))
        .select("id_a", F.explode("_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("dist"))
    )
    reps = grp.select("_rid", "_txt")
    if max_distance == 1:
        # EXACT k=1 candidate generation (round 15). The generic
        # neighborhood self-join pairs every two strings sharing ANY
        # deletion variant — a lev<=2 condition, so at k=1 most
        # candidates are junk that can never verify (measured 956k
        # candidates -> ~64x the variant count on sf0.1 customer
        # names). For k=1 the candidate set decomposes exactly:
        #   - insertion/deletion pairs (lengths differ by 1): the
        #     SHORTER string equals one deletion variant of the longer
        #     -> full-hash == variant-hash equi-join;
        #   - substitution pairs (equal length): deleting the differing
        #     position from both sides yields the same string -> the
        #     variant-variant join needs only SAME-POSITION matches
        #     (sharing a variant at positions i != j implies a
        #     second difference, i.e. lev >= 2).
        # Both conditions ride the SAME single self-join of one
        # (rid, pos, hash) frame (pos 0 = the undeleted string, pos i =
        # deletion at i), so the variant exchange is still planned once
        # (ReusedExchange) and the junk is dropped by the join filter
        # BEFORE the distinct — no extra shuffle, ~candidate-volume
        # output. Emitted pairs are true-lev-1 (plus hash-collision
        # noise), which the existing exact-levenshtein verify filters.
        var = reps.select(
            "_rid",
            F.posexplode(
                F.concat(F.array(F.col("_txt")), _delete_one(F.col("_txt")))
            ).alias("_pos", "_v"),
        ).select("_rid", "_pos", F.xxhash64("_v").alias("_vh"))
        cand = (
            var.alias("A")
            .join(var.alias("B"), "_vh")
            .filter(F.col("A._rid") < F.col("B._rid"))
            .filter(
                ((F.col("A._pos") == 0) != (F.col("B._pos") == 0))
                | ((F.col("A._pos") == F.col("B._pos")) & (F.col("A._pos") > 0))
            )
            .select(F.col("A._rid").alias("_ra"), F.col("B._rid").alias("_rb"))
            .distinct()
        )
    else:
        # one exploded variant frame; BOTH candidate-join sides read it
        # un-renamed so the exchange is planned once (ReusedExchange)
        var = reps.select(
            "_rid",
            F.explode(
                deletion_neighborhood(F.col("_txt"), max_distance)
            ).alias("_v"),
        ).select("_rid", F.xxhash64("_v").alias("_vh"))
        cand = (
            var.alias("A")
            .join(var.alias("B"), "_vh")
            .filter(F.col("A._rid") < F.col("B._rid"))
            .select(F.col("A._rid").alias("_ra"), F.col("B._rid").alias("_rb"))
            .distinct()
        )
    a = reps.select(F.col("_rid").alias("_ra"), F.col("_txt").alias("_ta"))
    b = reps.select(F.col("_rid").alias("_rb"), F.col("_txt").alias("_tb"))
    verified = (
        cand.join(a, "_ra")
        .join(b, "_rb")
        .withColumn("dist", F.levenshtein("_ta", "_tb"))
        .filter(F.col("dist") <= max_distance)
    )
    ga = grp.select(F.col("_rid").alias("_ra"), F.col("_ids").alias("_ids_a"))
    gb = grp.select(F.col("_rid").alias("_rb"), F.col("_ids").alias("_ids_b"))
    # expand representative pairs to doc pairs; normalize orientation
    # to id_a < id_b (distance is symmetric)
    cross = (
        verified.join(ga, "_ra")
        .join(gb, "_rb")
        .select("dist", F.explode("_ids_a").alias("_ea"), "_ids_b")
        .select("dist", "_ea", F.explode("_ids_b").alias("_eb"))
        .select(
            F.least("_ea", "_eb").alias("id_a"),
            F.greatest("_ea", "_eb").alias("id_b"),
            "dist",
        )
    )
    return intra.unionByName(cross)
