"""Round-9 operator wave: l-diversity, char entropy, bigram LM,
segment boilerplate, equi-depth histogram, HLL overlap, k-core.
Hand-computed fixtures throughout — every number here was derived on
paper first, so a green test means the operator computes the defined
quantity, not merely that it runs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- l-diversity

def test_l_diversity_counts(spark):
    from duo_spark.operators.validate import l_diversity

    # class (a): sensitive {1,1,2} -> 2 distinct; class (b): {3} -> 1
    rows = [("a", 1), ("a", 1), ("a", 2), ("b", 3)]
    df = spark.createDataFrame(rows, "q string, s int")
    r = l_diversity(df, ["q"], "s", l=2).collect()[0]
    assert r.n_rows == 4 and r.n_classes == 2
    assert r.min_distinct_sensitive == 1 and not r.l_diverse
    assert r.n_violating_classes == 1 and r.n_violating_rows == 1
    assert l_diversity(df, ["q"], "s", l=1).collect()[0].l_diverse


def test_l_diversity_null_sensitive_is_a_value(spark):
    from duo_spark.operators.validate import l_diversity

    df = spark.createDataFrame(
        [("a", None), ("a", 1)], "q string, s int"
    )
    r = l_diversity(df, ["q"], "s", l=2).collect()[0]
    # NULL counts as its own sensitive value: 2 distinct -> diverse
    assert r.min_distinct_sensitive == 2 and r.l_diverse


# --------------------------------------------------------------- char entropy

def test_char_entropy_exact_values(spark):
    from duo_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abcd")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in char_entropy(df).collect()}
    assert got[1].entropy == 0.0 and got[1].n_distinct_chars == 1
    assert got[2].entropy == 1.0
    assert got[3].entropy == 2.0 and got[3].n_chars_counted == 4


def test_char_entropy_formula_matches_direct(spark):
    from duo_spark.operators.text import char_entropy

    text = "abbccc d"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    counts: dict[str, int] = {}
    for ch in text:
        counts[ch] = counts.get(ch, 0) + 1
    n = sum(counts.values())
    want = round(-sum(c / n * math.log2(c / n) for c in counts.values()), 6)
    r = char_entropy(df).collect()[0]
    assert r.entropy == pytest.approx(want, abs=1e-6)
    assert r.n_chars_counted == n  # space IS a character


# ------------------------------------------------------------------ bigram LM

def test_bigram_lm_hand_computed(spark):
    from duo_spark.operators.text import bigram_lm_score

    # corpus: "a b a b" and "a a". unigrams: a=4, b=2 -> V=2
    # bigrams: (a,b)=2, (b,a)=1, (a,a)=1
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a")], "doc_id long, text string"
    )
    alpha = 0.5
    c1 = {"a": 4, "b": 2}
    c2 = {("a", "b"): 2, ("b", "a"): 1, ("a", "a"): 1}
    v = 2

    def nlp(w1, w2):
        return math.log((c1[w1] + alpha * v) / (c2[(w1, w2)] + alpha))

    want1 = round((nlp("a", "b") + nlp("b", "a") + nlp("a", "b")) / 3, 6)
    want2 = round(nlp("a", "a"), 6)
    got = {r.doc_id: r for r in bigram_lm_score(df, alpha=alpha).collect()}
    assert got[1].n_bigrams == 3 and got[1].bigram_lm == pytest.approx(want1, abs=1e-6)
    assert got[2].n_bigrams == 1 and got[2].bigram_lm == pytest.approx(want2, abs=1e-6)


def test_bigram_lm_short_docs_absent(spark):
    from duo_spark.operators.text import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "single"), (2, "two tokens")], "doc_id long, text string"
    )
    ids = {r.doc_id for r in bigram_lm_score(df).collect()}
    assert ids == {2}


def test_bigram_lm_order_sensitivity(spark):
    """Same bag of words, different order -> different score (the
    property the unigram filter lacks)."""
    from duo_spark.operators.text import bigram_lm_score, unigram_lm_score

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "mat the on sat cat the"),
         (3, "the cat sat on the mat")],
        "doc_id long, text string",
    )
    uni = {r.doc_id: r.lm_score for r in
           unigram_lm_score(df).withColumn("lm_score", F.round("lm_score", 6)).collect()}
    bi = {r.doc_id: r.bigram_lm for r in bigram_lm_score(df).collect()}
    assert uni[1] == uni[2]          # unigram blind to order
    assert bi[1] != bi[2]            # bigram sees it
    assert bi[1] == bi[3]            # deterministic


# -------------------------------------------------------- segment boilerplate

def test_segment_boilerplate_flags_frequent_segments(spark):
    from duo_spark.operators.text import segment_boilerplate

    # segment "x y z" appears in docs 1,2,3 (min_docs=3 -> boilerplate);
    # every other segment is unique to its doc.
    rows = [
        (1, "x y z a b c"),
        (2, "x y z d e f"),
        (3, "x y z g h"),
        (4, "p q r"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           segment_boilerplate(df, seg_tokens=3, min_docs=3).collect()}
    assert got[1].n_segments == 2 and got[1].n_boilerplate == 1
    assert got[1].boilerplate_ratio == 0.5 and got[1].kept_tokens == 3
    # doc 3's tail segment has only 2 tokens
    assert got[3].n_segments == 2 and got[3].kept_tokens == 2
    assert got[4].n_boilerplate == 0 and got[4].kept_tokens == 3


def test_segment_boilerplate_same_doc_repeat_not_boilerplate(spark):
    """Frequency is DISTINCT-document frequency: a segment repeated
    inside one doc is repetition (repetition_ratio's job), not
    boilerplate."""
    from duo_spark.operators.text import segment_boilerplate

    df = spark.createDataFrame(
        [(1, "x y z x y z x y z"), (2, "a b c")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in
           segment_boilerplate(df, seg_tokens=3, min_docs=2).collect()}
    assert got[1].n_boilerplate == 0


# ----------------------------------------------------- equi-depth histogram

def test_equidepth_histogram_ntile_semantics(spark):
    from duo_spark.operators.profile import equidepth_histogram

    # 10 rows, 4 buckets -> sizes 3,3,2,2 (first n%B buckets fat)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 11)], "id long, v double"
    )
    rows = equidepth_histogram(df, "v", "id", buckets=4).orderBy("bucket").collect()
    assert [r.n for r in rows] == [3, 3, 2, 2]
    assert [r.bucket for r in rows] == [1, 2, 3, 4]
    assert rows[0].lo == 1.0 and rows[0].hi == 3.0
    assert rows[3].lo == 9.0 and rows[3].hi == 10.0
    # depth balance: every bucket within 1 row of each other
    ns = [r.n for r in rows]
    assert max(ns) - min(ns) <= 1


def test_equidepth_histogram_skewed_values(spark):
    """Equi-depth puts equal COUNTS per bucket even when one value
    dominates — the property equi-width lacks."""
    from duo_spark.operators.profile import equidepth_histogram

    rows = [(i, 1.0) for i in range(80)] + [(100 + i, float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = equidepth_histogram(df, "v", "id", buckets=5).collect()
    assert all(r.n == 20 for r in out)


# ---------------------------------------------------------------- HLL overlap

def test_hll_overlap_identical_and_disjoint(spark):
    from duo_spark.operators.sketch import hll_overlap, hll_sketch, hll_estimate

    rows = [("a", i) for i in range(300)] + [("b", i) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = hll_overlap(df, "g", "v", "a", "b").collect()[0]
    # identical sets: union == each side == intersection, jaccard 1
    assert r.est_a == r.est_b == r.est_union == r.est_intersection
    assert r.jaccard_est == 1.0

    # disjoint case at n >> m so the compounded inclusion-exclusion
    # error (~3x a single estimate's) is small relative to the union
    rows2 = [("a", i) for i in range(3000)] + [("b", 100_000 + i) for i in range(3000)]
    df2 = spark.createDataFrame(rows2, "g string, v long")
    r2 = hll_overlap(df2, "g", "v", "a", "b").collect()[0]
    # disjoint: intersection estimate ~0 (clamped >= 0), jaccard ~0
    assert r2.est_intersection <= 0.1 * r2.est_union
    assert r2.est_union > max(r2.est_a, r2.est_b) * 1.5


def test_hll_overlap_empty_sides_one_row(spark):
    """ADVICE r9: an empty group must coalesce to estimate 0 and the
    report must still be exactly ONE row; jaccard guards the 0/0."""
    from duo_spark.operators.sketch import hll_overlap

    # group b entirely absent
    rows = [("a", i) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = hll_overlap(df, "g", "v", "a", "b").collect()
    assert len(out) == 1
    r = out[0]
    assert r.est_b == 0 and r.est_a > 0
    assert r.est_union == r.est_a  # union of A with empty = A
    assert r.est_intersection == 0 and r.jaccard_est == 0.0

    # both groups absent: one all-zero row, jaccard 0 (no divide error)
    df2 = spark.createDataFrame([("c", 1)], "g string, v long")
    out2 = hll_overlap(df2, "g", "v", "a", "b").collect()
    assert len(out2) == 1
    r2 = out2[0]
    assert (r2.est_a, r2.est_b, r2.est_union, r2.est_intersection) == (0, 0, 0, 0)
    assert r2.jaccard_est == 0.0


def test_hll_overlap_union_is_register_merge(spark):
    """est_union must equal the estimate of the merged register table
    (the mergeability contract), not an estimate of re-scanned data."""
    from duo_spark.operators.sketch import hll_overlap, hll_sketch, hll_estimate

    rows = [("a", i) for i in range(200)] + [("b", i + 100) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = hll_overlap(df, "g", "v", "a", "b").collect()[0]
    union_direct = hll_estimate(
        hll_sketch(df.select(F.lit(1).alias("g"), "v"), ["g"], "v"), ["g"]
    ).collect()[0].estimate
    assert r.est_union == union_direct


# -------------------------------------------------------------------- k-core

def test_k_core_peels_cascade(spark):
    from duo_spark.operators.graph import k_core

    # triangle 1-2-3 plus a pendant chain 3-4, 4-5:
    # 2-core = the triangle; the chain peels in two cascading rounds.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r.node: r.degree for r in k_core(edges, 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_k_core_empty_when_overpruned(spark):
    from duo_spark.operators.graph import k_core

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert k_core(edges, 2).count() == 0


def test_k_core_ignores_orientation_and_duplicates(spark):
    from duo_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1), (1, 1)],
        "src long, dst long",
    )
    got = {r.node: r.degree for r in k_core(edges, 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_k_core_whole_graph_is_core(spark):
    from duo_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    got = {r.node: r.degree for r in k_core(edges, 1).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


# ---------------------------------------------------------------- t-closeness

def test_t_closeness_hand_computed(spark):
    from duo_spark.operators.validate import t_closeness

    # global: x=4/8, y=4/8. class a: x=3/4,y=1/4 -> TVD=0.25
    # class b: x=1/4,y=3/4 -> TVD=0.25
    rows = [("a", "x")] * 3 + [("a", "y")] + [("b", "x")] + [("b", "y")] * 3
    df = spark.createDataFrame(rows, "q string, s string")
    r = t_closeness(df, ["q"], "s", t=0.3).collect()[0]
    assert r.n_classes == 2 and r.max_tvd == 0.25
    assert r.t_close and r.n_violating_classes == 0
    r2 = t_closeness(df, ["q"], "s", t=0.2).collect()[0]
    assert not r2.t_close and r2.n_violating_classes == 2


def test_t_closeness_absent_value_mass(spark):
    from duo_spark.operators.validate import t_closeness

    # class a never contains z: the absent mass p_g(z)=0.25 must count.
    # global: x=2/4, y=1/4, z=1/4.
    # class a = {x,x}: TVD = 0.5*(|1-0.5| + 0.25 + 0.25) = 0.5
    # class b = {y,z}: TVD = 0.5*(0.5 + |0.5-0.25| + |0.5-0.25|) = 0.5
    rows = [("a", "x"), ("a", "x"), ("b", "y"), ("b", "z")]
    df = spark.createDataFrame(rows, "q string, s string")
    r = t_closeness(df, ["q"], "s", t=0.6).collect()[0]
    assert r.max_tvd == 0.5 and r.t_close


def test_t_closeness_uniform_class_is_zero(spark):
    from duo_spark.operators.validate import t_closeness

    rows = [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")]
    df = spark.createDataFrame(rows, "q string, s string")
    r = t_closeness(df, ["q"], "s", t=0.01).collect()[0]
    assert r.max_tvd == 0.0 and r.t_close


def test_t_closeness_null_sensitive_is_a_value(spark):
    """ADVICE r9: NULL sensitive values must count as one domain
    value (l_diversity's documented semantics), not silently vanish
    from the class↔global join."""
    from duo_spark.operators.validate import t_closeness

    # global: x=2/4, NULL=2/4. class a = {x, NULL} matches the global
    # split exactly -> TVD 0; class b = {x, NULL} ditto.
    rows = [("a", "x"), ("a", None), ("b", "x"), ("b", None)]
    df = spark.createDataFrame(rows, "q string, s string")
    r = t_closeness(df, ["q"], "s", t=0.01).collect()[0]
    assert r.n_classes == 2
    assert r.max_tvd == 0.0 and r.t_close

    # an ALL-NULL class must stay in n_classes and carry real TVD:
    # global: x=1/4, NULL=3/4; class c = {NULL, NULL}:
    # TVD = 0.5*(|1-0.75| + 0.25 absent-x mass) = 0.25
    # class a = {x, NULL}: 0.5*(|0.5-0.25| + |0.5-0.75|) = 0.25
    rows2 = [("a", "x"), ("a", None), ("c", None), ("c", None)]
    df2 = spark.createDataFrame(rows2, "q string, s string")
    r2 = t_closeness(df2, ["q"], "s", t=0.2).collect()[0]
    assert r2.n_classes == 2
    assert r2.max_tvd == 0.25
    assert not r2.t_close and r2.n_violating_classes == 2


def test_k_core_driver_peel_matches_distributed(spark, monkeypatch, tmp_path):
    """Round 15: the size-gated driver-side numpy peel must return
    exactly the distributed loop's rows. The first run forbids the
    distributed loop's checkpoints, so it can only pass through the
    numpy peel; the second forces the distributed path by zeroing the
    cutoff (the estimate gate can never pass). Compared on a
    random-ish graph with a multi-round cascade. The edges are read
    from parquet: a frame built from a local list has no size estimate
    (Long.MaxValue), so it never reaches the numpy peel."""
    import random

    from duo_spark.operators import graph as G

    def _no_checkpoint(*_a, **_k):
        raise AssertionError("distributed k-core loop ran")

    rng = random.Random(0xC0DE)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(400)]
    spark.createDataFrame(edges, "src long, dst long").write.parquet(
        str(tmp_path / "edges")
    )
    df = spark.read.parquet(str(tmp_path / "edges"))
    with monkeypatch.context() as m:
        m.setattr(G, "checkpoint", _no_checkpoint)
        fast = {(r.node, r.degree) for r in G.k_core(df, 8).collect()}
    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 0)
    slow = {(r.node, r.degree) for r in G.k_core(df, 8).collect()}
    assert fast == slow
    # non-degenerate fixture: the 8-core peels 7 of the 60 nodes over
    # three rounds
    assert len(fast) == 53
