"""Round-11 operators: sentence-level dedup composition (the CCNet
within-corpus pass), the PNG image container, and the second wave —
DSIR importance resampling, FFT audio spectrum, tokenizer fertility,
embedding-space decontamination, data-constrained epoch allocation,
and perceptual image dHash."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_sentence_dedup_first_occurrence_and_boilerplate(spark):
    from duo_spark.operators.text import sentence_dedup

    docs = spark.createDataFrame(
        [
            # "accept cookies" appears in 3 docs -> boilerplate at k=2
            (1, "Alpha beta gamma. Accept  cookies. Unique one."),
            (2, "accept cookies! Alpha beta gamma. Unique two."),
            (3, "ACCEPT COOKIES? Unique three."),
            (4, "Unique four only."),
            (5, "   "),  # splits to zero sentences
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in sentence_dedup(docs, max_doc_freq=2).collect()
    }
    assert len(out) == 5
    # doc 1: all three sentences first occurrences; "Accept  cookies."
    # normalizes to the same form as doc 2/3's -> df=3 > 2 -> dropped
    assert (out[1].n_sentences, out[1].n_kept) == (3, 2)
    assert out[1].text_dedup == "Alpha beta gamma. Unique one."
    # doc 2: "accept cookies!" boilerplate; "Alpha beta gamma." is a
    # LATER occurrence of doc 1's sentence -> dropped; "Unique two." kept
    assert (out[2].n_sentences, out[2].n_kept) == (3, 1)
    assert out[2].text_dedup == "Unique two."
    assert (out[3].n_sentences, out[3].n_kept) == (2, 1)
    assert out[3].text_dedup == "Unique three."
    assert (out[4].n_sentences, out[4].n_kept) == (1, 1)
    assert out[5].n_sentences == 0 and out[5].text_dedup == ""


def test_sentence_dedup_normalization_variants_match(spark):
    """Case and interior-whitespace variants normalize together, but
    the KEPT sentence is the verbatim first occurrence."""
    from duo_spark.operators.text import sentence_dedup

    docs = spark.createDataFrame(
        [(1, "Hello   World. Tail one."), (2, "hello world. Tail two.")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in sentence_dedup(docs, max_doc_freq=5).collect()}
    assert out[1].text_dedup == "Hello   World. Tail one."
    assert out[2].text_dedup == "Tail two."


def test_sentence_dedup_within_doc_duplicates(spark):
    """A sentence repeated inside ONE doc keeps only its first
    occurrence (df=1 passes the boilerplate gate)."""
    from duo_spark.operators.text import sentence_dedup

    docs = spark.createDataFrame(
        [(7, "Same thing. Other stuff. Same thing. Same thing.")],
        "doc_id long, text string",
    )
    r = sentence_dedup(docs, max_doc_freq=1).collect()[0]
    assert (r.n_sentences, r.n_kept) == (4, 2)
    assert r.text_dedup == "Same thing. Other stuff."


# --- round-11 second wave: DSIR / spectrogram / fertility / decontam ---


def test_dsir_scores_prefer_target_like_docs(spark):
    from duo_spark.operators.selection import dsir_scores

    raw = spark.createDataFrame(
        [
            (1, "spark shuffle join agg spark shuffle join agg"),
            (2, "banana mango papaya banana mango papaya kiwi"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    target = raw.filter("doc_id = 1")
    out = {r.doc_id: r for r in
           dsir_scores(raw, target, buckets=64).collect()}
    # doc 1 shares every gram with the target -> higher log weight
    # than doc 2, which shares none
    assert out[1].score > out[2].score
    assert out[3].n_grams == 0 and out[3].score == 0.0
    # unigrams + bigrams: 8 words -> 8 + 7 grams
    assert out[1].n_grams == 15


def test_dsir_select_is_deterministic_topk(spark):
    from duo_spark.operators.selection import dsir_select

    rows = [(i, f"tok{i % 5} tok{(i + 1) % 5} common") for i in range(40)]
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    target = raw.filter("doc_id % 5 = 0")
    a = dsir_select(raw, target, 10, buckets=64, seed=7).collect()
    b = dsir_select(raw, target, 10, buckets=64, seed=7).collect()
    assert len(a) == 10
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)
    # a different seed redraws the Gumbels -> (almost surely) a
    # different selected set; at minimum the keys change
    c = dsir_select(raw, target, 10, buckets=64, seed=8).collect()
    assert {r.gumbel_key for r in c} != {r.gumbel_key for r in a}


def test_spectrum_stats_square_wave_dominant_bin(spark):
    from duo_spark.operators.multimodal import (
        spectrum_stats,
        synth_square_wav,
    )

    media = spark.createDataFrame(
        [(mid, bytearray(synth_square_wav(mid))) for mid in (0, 7, 99, 255)],
        "media_id long, content binary",
    )
    out = {r.media_id: r for r in spectrum_stats(media).collect()}
    for mid in (0, 7, 99, 255):
        k = 1 + mid % 100
        amp = 4000 + (mid % 8) * 500
        assert out[mid].dominant_bin == k, mid
        assert out[mid].energy == 256 * amp * amp
        assert out[mid].n_samples == 256
        # fundamental of a ±A square wave carries ~2AN/pi magnitude
        assert out[mid].dominant_mag > 0.5 * amp * 256


def test_spectrum_stats_mixes_channels_and_short_assets(spark):
    import io
    import struct
    import wave

    from duo_spark.operators.multimodal import spectrum_stats

    def wav(nch, frames):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(8000)
            flat = [s for fr in frames for s in fr]
            w.writeframes(struct.pack(f"<{len(flat)}h", *flat))
        return bytearray(buf.getvalue())

    # stereo with ch2 = -ch1 -> mixed signal is identically zero
    anti = [(s, -s) for s in (100, -200, 300, -400)]
    # mono single sample -> the <2-samples path
    media = spark.createDataFrame(
        [(1, wav(2, anti)), (2, wav(1, [(123,)]))],
        "media_id long, content binary",
    )
    out = {r.media_id: r for r in spectrum_stats(media).collect()}
    assert out[1].energy == 0 and out[1].dominant_mag == 0.0
    assert out[2].n_samples == 1
    assert out[2].dominant_bin == 0 and out[2].energy == 123 * 123


def test_tokenizer_fertility_arithmetic(spark):
    from duo_spark.operators.text import tokenizer_fertility

    docs = spark.createDataFrame(
        [
            # "don't stop" -> ws words: 2; bpe-ish: don ' t stop = 4
            (1, "en", "don't stop"),
            # "héllo": the ASCII-letter-run segmentation splits at the
            # non-ASCII é -> h|é|llo = 3 subwords, 5 chars, 6 utf-8
            # bytes (exactly the fragmentation fertility surfaces)
            (2, "fr", "héllo"),
        ],
        "doc_id long, lang string, text string",
    )
    out = {r.lang: r for r in tokenizer_fertility(docs).collect()}
    assert out["en"].n_words == 2 and out["en"].n_subwords == 4
    assert out["en"].fertility == 2.0
    assert out["fr"].n_subwords == 3 and out["fr"].fertility == 3.0
    assert out["fr"].chars_per_subword == 1.666667
    assert out["fr"].bytes_per_subword == 2.0


def test_semantic_decontam_flags_and_tiebreaks(spark):
    import pytest

    from duo_spark.operators.decontam import semantic_decontam

    bench = spark.createDataFrame(
        [
            (20, [1.0, 0.0, 0.0, 0.0]),
            (40, [1.0, 0.0, 0.0, 0.0]),  # duplicate direction, larger id
            (60, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0, 0.0]),   # parallel to bench 20/40
            (2, [0.0, 0.0, 1.0, 0.0]),   # orthogonal to every bench vec
            (3, [0.0, 3.0, 0.1, 0.0]),   # near bench 60
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in
           semantic_decontam(corpus, bench, threshold=0.9).collect()}
    assert set(out) == {1, 3}
    assert out[1].sim == 1.0 and out[1].bench_id == 20  # smallest-id tie
    assert out[3].bench_id == 60 and out[3].sim > 0.99

    with pytest.raises(ValueError, match="empty"):
        semantic_decontam(corpus, bench.filter("vec_id < 0")).collect()
    with pytest.raises(ValueError, match="max_benchmark"):
        semantic_decontam(corpus, bench, max_benchmark=2)


def test_epoch_allocation_water_filling(spark):
    from duo_spark.operators.sampling import epoch_allocation

    # tokens: tiny=10, small=40, big=1000; alpha=1 -> w = n
    rows = (
        [("tiny", 10)] + [("small", 40)] + [("big", 1000)]
    )
    df = spark.createDataFrame(rows, "source string, toks long")
    out = {r.stratum: r for r in epoch_allocation(
        df, "source", "toks", budget=500, max_epochs=2.0, alpha=1.0
    ).collect()}
    # proportional split of 500 over w=(10,40,1000) gives tiny 4.76…,
    # small 19.05…, big 476.2 — nobody hits the 2-epoch cap
    assert abs(out["big"].alloc - 500 * 1000 / 1050) < 1e-4
    assert abs(out["tiny"].epochs - 500 / 1050) < 1e-6
    total = sum(r.alloc for r in out.values())
    assert abs(total - 500) < 1e-4

    # alpha=0 -> uniform weights; budget 900 wants 300 each, but tiny
    # caps at 20 and small at 80; big water-fills the surplus
    out = {r.stratum: r for r in epoch_allocation(
        df, "source", "toks", budget=900, max_epochs=2.0, alpha=0.0
    ).collect()}
    assert out["tiny"].alloc == 20.0 and out["tiny"].epochs == 2.0
    assert out["small"].alloc == 80.0 and out["small"].epochs == 2.0
    assert out["big"].alloc == 800.0  # 900 - 20 - 80
    # infeasible budget: everything caps, total < budget
    out = {r.stratum: r for r in epoch_allocation(
        df, "source", "toks", budget=10_000, max_epochs=2.0, alpha=1.0
    ).collect()}
    assert all(r.epochs == 2.0 for r in out.values())
    assert sum(r.alloc for r in out.values()) == 2.0 * 1050

    import pytest

    with pytest.raises(ValueError, match="budget"):
        epoch_allocation(df, "source", "toks", budget=0)
    with pytest.raises(ValueError, match="max_epochs"):
        epoch_allocation(df, "source", "toks", budget=1, max_epochs=0)


def _executed_nodes(plan):
    """Every node of an executed physical plan, through AQE's wrapper
    and its query stages."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _executed_nodes(plan.executedPlan())
        return
    yield plan
    if name.endswith("QueryStageExec"):
        yield from _executed_nodes(plan.plan())
    children = plan.children()
    for i in range(children.size()):
        yield from _executed_nodes(children.apply(i))


def test_epoch_allocation_windows_are_partitioned(spark):
    """The water-filling windows run over one row per source in one
    explicit partition: no executed Window lacks a partition spec
    (which Spark warns about as "No Partition Defined")."""
    from duo_spark.operators.sampling import epoch_allocation

    df = spark.createDataFrame(
        [("tiny", 10), ("small", 40), ("big", 1000)], "source string, toks long"
    )
    out = epoch_allocation(df, "source", "toks", budget=500, max_epochs=2.0)
    assert len(out.collect()) == 3
    windows = [n for n in _executed_nodes(out._jdf.queryExecution().executedPlan())
               if n.getClass().getSimpleName() == "WindowExec"]
    assert windows
    assert all(not w.partitionSpec().isEmpty() for w in windows)


def test_image_dhash_containers_agree_and_detect_gradients(spark):
    from duo_spark.operators.multimodal import (
        decode_rgb,
        image_dhash,
        synth_bmp,
        synth_png,
    )

    # same closed-form pixel family rendered through two REAL
    # containers must never disagree with a recomputation from
    # decode_rgb; and a horizontal gradient pins known bits
    import struct

    def ppm(w, h, px_fn):
        body = bytes(
            v for y in range(h) for x in range(w) for v in px_fn(x, y)
        )
        return b"P6\n%d %d\n255\n" % (w, h) + body

    grad_l = ppm(10, 8, lambda x, y: (250 - x * 25,) * 3)  # darkens right
    grad_r = ppm(10, 8, lambda x, y: (x * 25,) * 3)        # brightens right
    media = spark.createDataFrame(
        [
            (1, bytearray(synth_bmp(3))),
            (2, bytearray(synth_png(3))),
            (3, bytearray(grad_l)),
            (4, bytearray(grad_r)),
        ],
        "media_id long, content binary",
    )
    out = {r.media_id: r for r in
           image_dhash(media, grid_w=5, grid_h=4).collect()}
    # left-brighter gradient -> every bit 1; right-brighter -> every 0
    assert out[3].dhash == "1" * 16
    assert out[4].dhash == "0" * 16
    assert out[3].width == 10 and out[3].height == 8
    # bmp/png of the same id are DIFFERENT pixel functions/sizes, but
    # each must match a direct recomputation over its decoded pixels
    import numpy as np

    for mid, content in ((1, synth_bmp(3)), (2, synth_png(3))):
        w, h, px = decode_rgb(content)
        luma = px.astype(np.int64).sum(axis=2)
        bits = []
        for i in range(4):
            for j in range(4):
                cells = {}
                for jj in (j, j + 1):
                    ys = [y for y in range(h) if y * 4 // h == i]
                    xs = [x for x in range(w) if x * 5 // w == jj]
                    s = sum(int(luma[y, x]) for y in ys for x in xs)
                    cells[jj] = (s, len(ys) * len(xs))
                (sl, nl), (sr, nr) = cells[j], cells[j + 1]
                bits.append("1" if sl * nr > sr * nl else "0")
        assert out[mid].dhash == "".join(bits), mid


def test_image_dhash_rejects_sub_grid_images(spark):
    import pytest

    from duo_spark.operators.multimodal import image_dhash, synth_bmp

    media = spark.createDataFrame(
        [(1, bytearray(synth_bmp(0)))], "media_id long, content binary"
    )
    with pytest.raises(Exception, match="smaller than dhash grid"):
        image_dhash(media, grid_w=100, grid_h=4).collect()


def test_dhash_near_dup_banding_is_exhaustive(spark):
    import itertools

    import pytest

    from duo_spark.operators.multimodal import dhash_near_dup

    hashes = [
        (1, "00000000"),
        (2, "00000001"),  # ham 1 from id 1
        (3, "00000011"),  # ham 1 from id 2, ham 2 from id 1
        (4, "11110000"),  # far from everything
        (5, "00000000"),  # exact dup of id 1
    ]
    df = spark.createDataFrame(hashes, "media_id long, dhash string")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_near_dup(df, max_hamming=2, bands=3, bits=8).collect()
    }
    # brute-force truth
    want = {}
    for (ia, ha), (ib, hb) in itertools.combinations(hashes, 2):
        d = sum(x != y for x, y in zip(ha, hb))
        if d <= 2:
            want[(min(ia, ib), max(ia, ib))] = d
    assert got == want
    assert got[(1, 5)] == 0 and got[(1, 3)] == 2
    # a band count that can't guarantee recall is refused
    with pytest.raises(ValueError, match="recall"):
        dhash_near_dup(df, max_hamming=2, bands=2, bits=8)
    # bits=None probes the length with a bounded job, same answer
    got2 = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_near_dup(df, max_hamming=2, bands=3).collect()
    }
    assert got2 == want


def test_audio_envelope_hash_bits_and_edges(spark):
    import io
    import struct
    import wave

    from duo_spark.operators.multimodal import audio_envelope_hash

    def wav(samples, nch=1):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        return bytearray(buf.getvalue())

    # bit = 1 iff the EARLIER window is louder (mean energy,
    # cross-multiplied). Rising envelope (100->200->short [300],
    # whose mean 300^2 beats 200^2) -> "00"; falling -> "11".
    s = [100] * 4 + [200] * 4 + [300]
    t = [500] * 4 + [100] * 4 + [50]
    media = spark.createDataFrame(
        [(1, wav(s)), (2, wav(t)), (3, wav([7]))],
        "media_id long, content binary",
    )
    out = {r.media_id: r for r in
           audio_envelope_hash(media, frame=4).collect()}
    assert (out[1].n_frames, out[1].envhash) == (3, "00")
    assert (out[2].n_frames, out[2].envhash) == (3, "11")
    assert (out[3].n_frames, out[3].envhash) == (1, "")


def test_margin_mine_normalizes_hubs(spark):
    import pytest

    from duo_spark.operators.similarity import margin_mine

    # pool: three near-identical "hub"-direction vectors (so a hub
    # lover's k=2 forward neighborhood is ALL high cosines) plus one
    # direction with a unique tight match
    pool = spark.createDataFrame(
        [
            (20, [1.0, 0.01, 0.0, 0.0]),
            (21, [1.0, -0.01, 0.0, 0.0]),
            (22, [1.0, 0.0, 0.01, 0.0]),
            (40, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            # hub orbiters: best cos ~0.999 but the neighborhood mean
            # is also ~0.999 on both sides -> margin ~1, none mined
            (1, [1.0, 0.05, 0.0, 0.0]),
            (2, [1.0, -0.05, 0.0, 0.0]),
            (3, [1.0, 0.0, 0.05, 0.0]),
            # the unique tight pair with y40: cos 1.0 far above both
            # neighborhoods -> big margin
            (4, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in
           margin_mine(corpus, pool, k=2, threshold=1.2).collect()}
    assert set(out) == {4}
    assert out[4].pool_id == 40 and out[4].cos == 1.0
    assert out[4].margin > 1.2
    # absolute-cosine mining at the same bar WOULD have taken the hub
    # copies too (cos ~0.999); the margin is what filtered them
    low = {r.vec_id: r for r in
           margin_mine(corpus, pool, k=2, threshold=0.0).collect()}
    assert low[1].cos > 0.99 and low[1].margin < 1.1

    with pytest.raises(ValueError, match="pool is empty"):
        margin_mine(corpus, pool.filter("vec_id < 0"), k=2)
    with pytest.raises(ValueError, match="max_pool"):
        margin_mine(corpus, pool, k=2, max_pool=1)


def test_ccnet_buckets_per_language_terciles(spark):
    from duo_spark.operators.text import ccnet_buckets

    # lang A: three docs with clearly ordered perplexity (repeated
    # common bigrams vs rare ones); lang B: one unscorable doc
    docs = spark.createDataFrame(
        [
            (1, "a", "x y x y x y x y"),        # common bigrams -> low ppl
            (2, "a", "x y x y q r x y"),        # mixed
            (3, "a", "q r s t u v w z"),        # all-rare -> high ppl
            (4, "b", "solo"),                   # <2 tokens -> unscored
        ],
        "doc_id long, lang string, text string",
    )
    out = {r.doc_id: r for r in ccnet_buckets(docs).collect()}
    assert out[1].bucket == "head"
    assert out[2].bucket == "middle"
    assert out[3].bucket == "tail"
    assert out[4].bucket == "unscored" and out[4].bigram_lm is None
    assert out[1].bigram_lm < out[2].bigram_lm < out[3].bigram_lm


def test_epoch_repeats_matches_plan_in_expectation(spark):
    from duo_spark.operators.sampling import epoch_allocation, epoch_repeats

    rows = [(i, "big" if i < 200 else "small") for i in range(220)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    plan = {r.stratum: r for r in epoch_allocation(
        df, "source", None, budget=300, max_epochs=2.0, alpha=0.0
    ).collect()}
    out = epoch_repeats(df, "source", None, budget=300, max_epochs=2.0,
                        alpha=0.0, seed=42).collect()
    assert len(out) == 220
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.repeats)
        # a doc never repeats beyond ceil(epochs)
        assert r.repeats in (
            int(plan[r.source].epochs // 1),
            int(plan[r.source].epochs // 1) + 1,
        )
    # small source (20 docs) caps at 2 epochs -> every doc exactly 2
    assert set(by_src["small"]) == {2}
    # big source: uniform budget 150 over 200 docs -> epochs 0.75;
    # realized total within binomial noise of the plan's allocation
    total_big = sum(by_src["big"])
    assert abs(total_big - plan["big"].alloc) < 30
    # deterministic under the same seed
    again = epoch_repeats(df, "source", None, budget=300, max_epochs=2.0,
                          alpha=0.0, seed=42).collect()
    assert sorted((r.doc_id, r.repeats) for r in again) == sorted(
        (r.doc_id, r.repeats) for r in out
    )


def test_degenerate_vectors_fail_loud_or_score_zero(spark):
    import pytest

    from duo_spark.operators.decontam import semantic_decontam
    from duo_spark.operators.similarity import margin_mine

    good = [(1, [1.0, 0.0]), (2, [0.0, 1.0])]
    with_zero = good + [(3, [0.0, 0.0])]
    bench_zero = spark.createDataFrame(with_zero,
                                       "vec_id long, embedding array<float>")
    corpus = spark.createDataFrame([(10, [1.0, 0.0]), (11, [0.0, 0.0])],
                                   "vec_id long, embedding array<float>")
    # a zero-norm BENCHMARK/POOL vector would fail OPEN (NaN argmax /
    # INT64_MIN overflow) — both operators must refuse it instead
    with pytest.raises(ValueError, match="zero/NaN"):
        semantic_decontam(corpus, bench_zero, threshold=0.5).collect()
    with pytest.raises(ValueError, match="zero/NaN"):
        margin_mine(corpus, bench_zero, k=2, threshold=0.0).collect()
    # a zero-norm CORPUS row scores 0 everywhere: never flagged, never
    # poisoning other rows
    bench = spark.createDataFrame(good, "vec_id long, embedding array<float>")
    flagged = semantic_decontam(corpus, bench, threshold=0.5).collect()
    assert {r.vec_id for r in flagged} == {10}
    mined = margin_mine(corpus, bench, k=2, threshold=0.0).collect()
    assert all(r.cos == 0.0 for r in mined if r.vec_id == 11)


def test_epoch_repeats_keeps_null_stratum_docs(spark):
    from duo_spark.operators.sampling import epoch_repeats

    rows = [(1, "a"), (2, "a"), (3, None), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = epoch_repeats(df, "source", None, budget=4, max_epochs=2.0,
                        alpha=0.0, seed=1).collect()
    # the NULL stratum was budgeted by the plan; its docs must appear
    assert len(out) == 4
    assert {r.doc_id for r in out if r.source is None} == {3, 4}
