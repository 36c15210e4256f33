"""End-to-end corpus-curation composition (round 10).

One call chains the quality → language → blocklist → exact-dedup →
near-dedup filter ladder every pre-training pipeline runs (the C4 /
Gopher / RefinedWeb recipe), entirely from operators that already
exist and are individually gate-verified. The value added here is
the COMPOSITION contract:

- every stage is a lazy DataFrame transformation — one program, one
  Catalyst plan per output, no intermediate materialization the
  caller didn't ask for;
- the survivors table and the per-stage attrition funnel come back
  together, so the dataset card's "rows removed by stage" table is
  one aggregation away;
- stage thresholds are keyword-only parameters with the repo's
  gate-verified defaults.

Scale: the heavy stage (near-dup) is the banded MinHash-LSH path
(`operators/dedup.py`), never all-pairs; the cheap stages are pure
Column projections that ride the scan. The funnel report runs one
count per stage boundary — O(stages) jobs, each a map-side-combined
count over a column-pruned plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duo_spark.operators import dedup as _dedup
from duo_spark.operators import graph as _graph
from duo_spark.operators import text as _text
from duo_spark.operators.materialize import checkpoint, together


def curate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_quality: int = 60,
    langs: tuple[str, ...] = ("en",),
    blocklist: tuple[str, ...] = _text.DEFAULT_BLOCKLIST,
    near_dup_threshold: float = 0.7,
    sentence_dedup: bool = False,
    sentence_max_doc_freq: int = 3,
) -> dict[str, DataFrame]:
    """The standard curation ladder over a documents table.

    Stages, in pipeline order (each consumes the previous survivors):

    0. ``sentence_dedup`` (optional, ``sentence_dedup=True`` — round
       12, VERDICT r11 #6): the CCNet within-corpus pass runs FIRST,
       before any quality/LM filtering (Wenzek et al. 2020 order —
       boilerplate sentences must not count against a doc's quality
       score): each doc's text is rewritten to its sentence-deduped
       form (:func:`duo_spark.operators.text.sentence_dedup`,
       ``max_doc_freq=sentence_max_doc_freq``) and docs with zero
       surviving sentences drop;
    1. ``quality``: heuristic 0-100 score >= ``min_quality``
       (:func:`duo_spark.operators.text.quality_score`);
    2. ``language``: marker-based lang-id in ``langs``
       (:func:`duo_spark.operators.text.add_lang_id`);
    3. ``blocklist``: zero whole-token blocklist hits
       (:func:`duo_spark.operators.text.blocklist_match`);
    4. ``exact_dedup``: one survivor (min id) per normalized text
       (:func:`duo_spark.operators.dedup.exact_duplicates` semantics);
    5. ``near_dedup``: banded MinHash-LSH pairs at
       ``near_dup_threshold``, resolved to connected components
       (:func:`duo_spark.operators.graph.connected_components`); the
       component minimum id survives, everything else in the
       component drops. Round 11 (ADVICE r10 #4): the earlier
       per-PAIR greedy rule ("larger id of every pair drops") removed
       BOTH B and C in a chain A~B~C with A!~C — C's only
       near-duplicate B was itself removed, so C over-dropped. The
       cluster-representative rule keeps exactly one doc per
       component, the same semantics ``dedup_clusters`` gates.

    Returns ``{"kept": survivors, "funnel": (stage, rows_in,
    rows_out, removed)}``. ``kept`` is lazy; ``funnel`` is computed
    EAGERLY, but cheaply: the text-predicate chain (quality /
    lang-id / blocklist — tokenization is the per-row cost) executes
    exactly ONCE, as the job that checkpoints the quality survivors
    with their remaining flag columns; the n1-n3 stage counts are a
    cheap aggregate over that checkpoint, n0 is a column-pruned
    input count (a naive per-stage count would re-execute the
    growing filter chain O(stages²) times), and the two dedup stages
    — whose result depends on the surviving SET, not the row alone —
    add one counting job each over a localCheckpointed survivor
    table (so the near-dup stage never recomputes the predicate
    chain either).
    """
    # --- optional stage 0: CCNet sentence dedup over the raw corpus,
    # text rewritten to its deduped form; eager-checkpointed so the
    # sentence-keyed aggregate (one shuffle) never re-executes under
    # the downstream stage counts ---
    # Independent eager actions run CONCURRENTLY (together): each funnel
    # is a chain of ~10 driver-synchronized jobs whose fixed latency
    # dominates at small inputs; pairing the independent ones (input
    # count ∥ survivor checkpoint, stage-count aggregate ∥ exact-dedup
    # checkpoint, n4 count ∥ LSH set-collapse) back-fills those gaps
    # without touching what any stage computes.
    lead_rows: list[tuple[str, int, int, int]] = []
    if sentence_dedup:
        raw = docs

        def _sentence_deduped() -> DataFrame:
            sd = _text.sentence_dedup(
                raw, id_col, text_col, max_doc_freq=sentence_max_doc_freq
            )
            cols = [
                F.col("text_dedup").alias(text_col) if c == text_col else F.col(c)
                for c in raw.columns
            ]
            return checkpoint(
                raw.drop(text_col)
                .join(
                    sd.filter(F.col("n_kept") > 0).select(id_col, "text_dedup"),
                    id_col,
                )
                .select(cols)
            )

        n_pre, docs = together(raw.count, _sentence_deduped)
        n_post = docs.count()
        lead_rows = [("sentence_dedup", n_pre, n_post, n_pre - n_post)]

    # --- per-document predicate stages: one annotated projection,
    # every flag a pure Column (no joins, rides the scan) ---
    q = _text.quality_score(docs, text_col)
    lang = _text.add_lang_id(q, text_col)
    flags = lang.select(
        *docs.columns,
        (F.col("quality_score") >= min_quality).alias("_q_ok"),
        F.col("lang_guess").isin(list(langs)).alias("_l_ok"),
        (F.size(_text.blocklist_hits(F.col(text_col), blocklist)) == 0).alias(
            "_b_ok"
        ),
    )

    # the text-predicate chain (tokenization + array folds is the
    # per-row cost) executes exactly ONCE: materialize the
    # quality-stage survivors WITH the remaining flag columns, then
    # derive the n1/n2/n3 counts from the checkpoint with a cheap
    # in-memory aggregate instead of a second full-chain pass (the
    # round-14 form ran the chain twice — once for the counts
    # aggregate over all rows, once to checkpoint the three-predicate
    # survivors). n0 never needed the chain at all: it is a plain
    # column-pruned count of the input (or the sentence-dedup stage's
    # already-computed rows_out). The _q_ok filter sits BELOW the
    # lang/blocklist projections after pushdown, so quality-failing
    # rows skip the lang fold entirely — strictly less per-row work
    # than the old all-rows counts pass. Trade: the checkpoint holds
    # quality survivors (a superset of the old s3 table) — one extra
    # flag-filter scan of in-memory blocks downstream, in exchange
    # for dropping a full corpus tokenization pass.
    s1, n0 = together(
        lambda: checkpoint(flags.filter(F.col("_q_ok")).drop("_q_ok")),
        (lambda: lead_rows[0][2]) if sentence_dedup else docs.count,
    )
    s3 = s1.filter(F.col("_l_ok") & F.col("_b_ok")).select(docs.columns)

    # --- set-dependent dedup stages over the checkpointed survivors ---
    norm = _dedup.normalize_text(F.col(text_col))
    winners = (
        s3.groupBy(norm.alias("_norm"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    # the stage-count aggregate and the exact-dedup checkpoint both
    # read only the s1 checkpoint blocks — run them concurrently
    s4, counts = together(
        lambda: checkpoint(s3.join(winners, id_col, "left_semi")),
        lambda: s1.agg(
            F.count(F.lit(1)).alias("n1"),
            F.sum(F.col("_l_ok").cast("long")).alias("n2"),
            F.sum((F.col("_l_ok") & F.col("_b_ok")).cast("long")).alias("n3"),
        ).collect()[0],
    )

    # n4 reads only the s4 checkpoint; the near-dup candidate build
    # (LSH set collapse + banding) starts from the same blocks — overlap.
    # Cluster-representative removal: every non-minimum member of a
    # connected component drops (never a doc whose only duplicates
    # were themselves removed — the A~B~C chain keeps A AND C's
    # representative semantics consistent with dedup_clusters)
    comps, n4 = together(
        lambda: _graph.connected_components(
            _dedup.minhash_near_duplicates(
                s4, id_col, text_col, threshold=near_dup_threshold
            ),
            a_col="id_a",
            b_col="id_b",
        ),
        s4.count,
    )
    losers = (
        comps.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
    )
    s5 = s4.join(losers, id_col, "left_anti")
    n5 = s5.count()

    n1, n2, n3 = counts["n1"], counts["n2"], counts["n3"]
    funnel_rows = lead_rows + [
        ("quality", n0, n1, n0 - n1),
        ("language", n1, n2, n1 - n2),
        ("blocklist", n2, n3, n2 - n3),
        ("exact_dedup", n3, n4, n3 - n4),
        ("near_dedup", n4, n5, n4 - n5),
    ]
    funnel = docs.sparkSession.createDataFrame(
        funnel_rows, "stage string, rows_in long, rows_out long, removed long"
    )
    return {"kept": s5, "funnel": funnel}
