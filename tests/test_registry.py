"""Registry hygiene: the QUERIES dict, the driver entry points, and
OPERATORS.md must stay in sync — a registry reorder (round 5 moved the
39 never-driver-verified queries into the driver's first-50 window)
must not silently drop an oracle or orphan a docs row."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _registry():
    from duo_spark.queries import QUERIES
    return QUERIES


def test_every_query_has_an_oracle():
    """Every registered query ships DuckDB oracle SQL (the driver's
    weaker rows-only fallback is reserved for genuinely
    non-SQL-expressible ops — currently none)."""
    missing = [k for k, (_fn, sql) in _registry().items() if not sql]
    assert not missing, f"queries without oracle SQL: {missing}"


def test_entry_points_mirror_registry():
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    reg = _registry()
    assert list(q) == list(reg)          # same names, same ORDER
    assert set(o) <= set(q)
    assert set(o) == {k for k, (_f, sql) in reg.items() if sql is not None}


def test_operators_md_matches_registry():
    md = (REPO / "OPERATORS.md").read_text()
    rows = re.findall(r"^\| `([a-z0-9_]+)` \|", md, re.M)
    reg = set(_registry())
    assert set(rows) == reg, (
        f"OPERATORS.md drift: missing={sorted(reg - set(rows))} "
        f"stale={sorted(set(rows) - reg)}"
    )
    assert len(rows) == len(set(rows)), "duplicate OPERATORS.md rows"


def test_registry_names_unique_and_wellformed():
    reg = _registry()
    assert len(reg) == len(set(reg))
    for k in reg:
        assert re.fullmatch(r"[a-z0-9_]+", k), k


def test_bench_covers_registry():
    """Every registry query is either benched or explicitly excluded
    with a documented reason — bench coverage can't silently rot."""
    import bench

    reg = set(_registry())
    benched = set(bench.BENCH_QUERIES)
    assert len(bench.BENCH_QUERIES) == len(benched), "duplicate bench entries"
    assert benched <= reg, f"bench names not in registry: {benched - reg}"
    assert not (benched & bench.BENCH_EXCLUDED)
    uncovered = reg - benched - bench.BENCH_EXCLUDED
    assert not uncovered, f"registry queries neither benched nor excluded: {uncovered}"


def test_bench_artifact_sf_guard(tmp_path):
    """ADVICE r9: only baseline-sf runs may write the committed
    BENCH.json; any other sf routes to .tmp/BENCH_local.json."""
    import bench

    here = str(tmp_path)
    assert bench.artifact_path(here, bench.BASELINE_SF).endswith("BENCH.json")
    off = bench.artifact_path(here, 0.001)
    assert off.endswith("BENCH_local.json") and "/.tmp/" in off.replace("\\", "/")
    assert bench.artifact_path(here, -1.0).endswith("BENCH_local.json")


def test_bench_sf_parse_never_raises():
    """The bench contract is ONE JSON line with rc=0 for ANY
    $SPARK_GRAFT_SF_DIR — a malformed sf suffix must parse to the
    unknown-sf sentinel (routed to .tmp), not crash before the line
    prints."""
    import bench

    assert bench.parse_sf("/root/testdata/sf0.1") == 0.1
    assert bench.parse_sf("/root/testdata/sf0.001/") == 0.001
    assert bench.parse_sf("/data/no_scale_factor_here") == -1.0
    assert bench.parse_sf("/root/testdata/sf_nonexistent") == -1.0
    assert bench.parse_sf("/tmp/sfX") == -1.0


def test_round14_window_holds_stale_debt_and_changes():
    """Round-14 rotation lock (VERDICT r13 #1/#2, DEVIATIONS #21/#22):
    the fifteen r9-stale rows lead the 50-slot window, image_dhash and
    the round's new/changed gates follow, fifteen r10 rows fill, and
    the twenty-eight displaced r10 rows sit FIRST below the cutoff as
    cohort A's head. Locks the ordering against accidental
    refactors."""
    reg = list(_registry())
    window = reg[:50]
    r9_debt = [
        "equidepth_hist", "tfidf_top_terms", "embedding_centroids",
        "l_diversity", "boilerplate_segments", "bigram_lm",
        "char_entropy", "rolling_features", "events_pivot",
        "latency_percentiles", "top_ngrams", "lm_score",
        "cohort_retention", "profile_orders", "events_cube",
    ]
    assert reg[:15] == r9_debt, "r9 debt must lead the round-14 window"
    r14_rule12 = {
        # r13 change that went without a slot (VERDICT r13 #4)
        "image_dhash",
        # round-14 NEW gate (rule 1)
        "field_stats_ref_quirk",
        # AVI LIST-rec recursion + single-stream enforcement
        "multimodal_decode_video", "video_frame_dhash",
        # exact-mode empty-level drop
        "ngram_diversity",
        # banded-LSH hot-bucket guard: chain -> ladder
        "minhash_lsh", "canonical_docs", "dedup_clusters",
        "leakage_split", "ngram_jaccard", "ngram_jaccard_strong",
        "incremental_dedup", "curation_funnel", "curation_funnel_sd",
        # _publish_dir rename-aside replay path
        "compaction_roundtrip", "streaming_span_merge",
        "streaming_span_merge_fast", "streaming_parquet_sink",
        "checkpoint_recovery", "pipeline_e2e",
    }
    missing = r14_rule12 - set(window)
    assert not missing, f"fell out of the driver window: {sorted(missing)}"
    # cohort A's head: the 28 r10 rows displaced by the 35 rule slots
    cohort_a_head = [
        "hll_rollup", "hll_sliding", "k_anonymity", "key_skew_profile",
        "label_resolution", "moments_quantiles", "nation_revenue",
        "order_quartiles", "packing_stats", "pricing_summary",
        "random_projection", "readability", "salted_join_skew",
        "sample_per_key", "scd2_history", "span_merge", "span_overlap",
        "store_pruned_scan", "streaming_anomaly", "streaming_hll_rollup",
        "streaming_moments_rollup", "t_closeness", "timing_codec",
        "topk_orders_per_customer", "trace_waterfall", "url_dedup",
        "validate_orders", "zipf_slope",
    ]
    assert reg[50:78] == cohort_a_head, "displaced r10 rows must lead round 15"


#: Public operator functions with NO transitive path from a registered
#: query, each with the reason it is allowed to stay gate-less
#: (rotation rule 1, amended round 11 per VERDICT r10 #4, covers
#: OPERATORS — a new operator must either be reachable from a
#: registered gate or carry an explicit waiver here).
OPERATOR_GATE_WAIVERS = {
    # Column-level building blocks of gated operators (the composed
    # operator is gated; these are its exported composable pieces)
    "minhash_signature": "building block of gated minhash_lsh",
    "minhash_lsh_candidates": "candidate stage of gated minhash_lsh",
    "simhash_signature": "building block of gated simhash",
    "lang_id": "Column form of gated lang_id query (add_lang_id)",
    "rolling_hash_fingerprint": "Column form of gated fingerprint",
    "cms_merge": "merge half of gated cms_topk (tested vs rebuild)",
    # variant APIs of gated operators, pinned equal in pytest
    "dedup_exact": "text-col variant of gated exact_duplicates",
    "ngram_jaccard_pairs": "exhaustive variant of gated ngram_jaccard",
    "bpe_train_batched": "scale variant of gated bpe_merges trainer",
    "bm25_topk": "top-k wrapper of gated bm25 scoring",
    "hash_sample": "rate variant of gated stratified_sample hashing",
    "build_ivf_index": "persisted-index variant of gated ivf_search",
    "ivf_search_indexed": "persisted-index variant of gated ivf_search",
    "zorder_repartition": "write-side twin of gated zorder_layout",
    "media_stats": "approx-percentile twin of gated multimodal_stats",
    "scd2_merge": "incremental twin of gated scd2_history build",
    "assemble_traces": "API-layer trace assembly (web/serialize path)",
    # real-codec hooks: the decode path is gated through
    # audio_stats/image_stats; these are the extract_features hooks
    "decode_image": "hook form; decode_bmp/png gated via image_stats",
    "decode_audio": "hook form; decode_wav gated via audio_stats",
    "sample_video_frames": "declared non-goal (README): video codec",
}


def test_every_public_operator_reaches_a_registered_query():
    """Rotation rule 1 covers OPERATORS, not just queries (VERDICT r10
    #4): every public function in duo_spark/operators/ and
    pipelines.py must be transitively reachable from queries.py (the
    registered gates) — via direct reference or through other engine
    functions — or carry an explicit waiver above. Waivers must not go
    stale: a waived name that becomes reachable (or disappears) fails
    so the list shrinks with the debt."""
    import ast

    pkg = REPO / "duo_spark"
    mods = {p: p.read_text() for p in pkg.rglob("*.py")}

    defs: dict[str, list] = {}
    for path, src in mods.items():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                idents = set()
                for n in ast.walk(node):
                    if isinstance(n, ast.Name):
                        idents.add(n.id)
                    elif isinstance(n, ast.Attribute):
                        idents.add(n.attr)
                defs.setdefault(node.name, []).append((path, idents))

    roots = set()
    for n in ast.walk(ast.parse(mods[pkg / "queries.py"])):
        if isinstance(n, ast.Name):
            roots.add(n.id)
        elif isinstance(n, ast.Attribute):
            roots.add(n.attr)

    reach: set[str] = set()
    frontier = {n for n in defs if n in roots}
    while frontier:
        reach |= frontier
        nxt: set[str] = set()
        for name in frontier:
            for _p, idents in defs[name]:
                nxt |= {i for i in idents if i in defs and i not in reach}
        frontier = nxt

    targets = sorted((pkg / "operators").glob("*.py")) + [pkg / "pipelines.py"]
    public = set()
    for path in targets:
        for node in ast.parse(mods[path]).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if not node.name.startswith("_"):
                    public.add(node.name)

    unreachable = public - reach - set(OPERATOR_GATE_WAIVERS)
    assert not unreachable, (
        f"public operators with no path from a registered query and no "
        f"waiver: {sorted(unreachable)}"
    )
    stale = {
        w for w in OPERATOR_GATE_WAIVERS
        if w not in public or w in reach
    }
    assert not stale, f"stale waivers (now reachable or gone): {sorted(stale)}"


def test_bench_steal_probe():
    """Round-14: the artifact's hypervisor-steal diagnostic must read
    /proc/stat safely and degrade to None rather than crash the sweep."""
    import bench

    t0 = bench._cpu_ticks()
    if t0 is not None:  # Linux
        total, steal = t0
        assert total > 0 and steal >= 0
        t1 = (t0[0] + 1000, t0[1] + 100)
        assert bench._steal_pct(t0, t1) == 10.0
        assert bench._steal_pct(t0, t0) is None  # zero-width window
    assert bench._steal_pct(None, t0) is None
    assert bench._steal_pct(t0, None) is None
