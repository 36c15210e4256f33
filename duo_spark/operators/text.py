"""Text analysis operators for training-data pipelines (north-star).

Language-ID (stopword heuristic), quality scoring, token counting,
document fingerprinting. All pure Column expressions — whole-stage
codegen end to end, no Python per row. Counts are integers and ratios
are derived from integer counts, so results are exactly reproducible
in an SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duo_spark.operators.materialize import checkpoint

#: tiny per-language stopword marker sets for the n-gram heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("的", "是", "了", "在", "我"),
}

STOPWORDS = ("the", "a", "an", "or", "and", "of", "to", "in", "is", "it")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def bpe_ish_tokens(col: Column | str) -> Column:
    """BPE-ish subword segmentation: split on whitespace AND on
    letter/digit/punctuation boundaries — a cheap, deterministic proxy
    for tokenizer-cost estimation (no tokenizer libs in-container)."""
    c = F.col(col) if isinstance(col, str) else col
    # append a visible-escape \x01 sentinel after each character-class
    # run, then split on whitespace-or-sentinel (a bare "$1" replacement
    # would reproduce the input verbatim and degenerate to whitespace
    # tokenization)
    marked = F.regexp_replace(c, r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+)", "$1\u0001")
    return F.filter(F.split(marked, "[\\s\u0001]+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?'\"()\[\]{}-]", ""))


def stopword_count(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    tok = tokens(col)
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(tok, lambda t: F.array_contains(sw, F.lower(t))))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach integer quality counters + derived ratios.

    The classic pre-training quality gates (length, punctuation
    density, stopword ratio, mean word length) — cheap single-pass
    projections, trivially scan-parallel.
    """
    return (
        df.withColumn("n_chars_m", char_count(text_col))
        .withColumn("n_tokens", token_count(text_col))
        .withColumn("n_punct", punct_count(text_col))
        .withColumn("n_stopwords", stopword_count(text_col))
        .withColumn(
            "mean_token_len",
            F.aggregate(tokens(text_col), F.lit(0), lambda acc, t: acc + F.length(t))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
        )
        .withColumn("stopword_ratio", F.col("n_stopwords") / F.greatest(F.col("n_tokens"), F.lit(1)))
        .withColumn("punct_ratio", F.col("n_punct") / F.greatest(F.col("n_chars_m"), F.lit(1)))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """A 0-100 heuristic quality score from the integer features."""
    feats = quality_features(df, text_col)
    score = (
        F.lit(100)
        - F.when(F.col("n_tokens") < 10, 40).otherwise(0)
        - F.when(F.col("stopword_ratio") < 0.05, 20).otherwise(0)
        - F.when(F.col("punct_ratio") > 0.2, 20).otherwise(0)
        - F.when(F.col("mean_token_len") > 12, 20).otherwise(0)
    )
    return feats.withColumn("quality_score", F.greatest(score, F.lit(0)))


def _lang_hits(col: Column | str, markers: dict[str, tuple[str, ...]]) -> Column:
    """Per-language marker hit counts in ONE pass over the tokens:
    fold the token array once, adding a len(markers)-wide membership
    vector per token. (The round-1 form re-tokenized the text once per
    language — 5 full split passes per row.)"""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(F.lower(c)), r"\s+")
    marker_arrays = [F.array(*[F.lit(w) for w in words]) for words in markers.values()]
    zero = F.array_repeat(F.lit(0), len(marker_arrays))
    return F.aggregate(
        toks,
        zero,
        lambda acc, t: F.zip_with(
            acc,
            F.array(*[F.array_contains(m, t).cast("int") for m in marker_arrays]),
            lambda a, b: a + b,
        ),
    )


def _lang_decide(hits_col: Column, langs: list[str]) -> Column:
    """Argmax over the hit vector; ties favor earlier languages; 'und'
    when nothing matched. Cheap references only — safe to repeat."""
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for i, lang in enumerate(langs):
        h = hits_col[i]
        better = h > best_hits
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(better, h).otherwise(best_hits)
    return best_lang


def add_lang_id(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "lang_guess",
    markers: dict[str, tuple[str, ...]] = LANG_MARKERS,
) -> DataFrame:
    """DataFrame-level language ID: tokenizes once, folds once.

    The hit vector lives in its own projection so the argmax step's
    repeated references stay cheap attribute lookups (CollapseProject
    does not inline non-cheap producer expressions).
    """
    return (
        df.withColumn("_lang_hits", _lang_hits(text_col, markers))
        .withColumn(out_col, _lang_decide(F.col("_lang_hits"), list(markers)))
        .drop("_lang_hits")
    )


def lang_id(col: Column | str, markers: dict[str, tuple[str, ...]] = LANG_MARKERS) -> Column:
    """Column-expression language ID. Prefer :func:`add_lang_id` in
    pipelines — a single Column can't share the materialized hit
    vector across the argmax references."""
    return _lang_decide(_lang_hits(col, markers), list(markers))


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text (stable across
    engines; pairs with simhash_signature for fuzzy fingerprints)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))


def rolling_hash_fingerprint(col: Column | str, window: int = 8, keep: int = 4) -> Column:
    """Winnowing-style fingerprint: polynomial rolling hash over token
    windows, keep the ``keep`` smallest hashes as the document sketch.
    Deterministic, order-independent representation for fuzzy matching."""
    tok = tokens(col)
    n = F.size(tok)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(window), F.lit(0)))
    win_hashes = F.transform(
        idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(tok, i + 1, window)))
    )
    return F.slice(F.array_sort(F.array_distinct(win_hashes)), 1, keep)


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS algorithm): hash every word k-gram, slide a window of ``w``
    consecutive gram hashes, select each window's MINIMUM — the
    selected set is the document's fingerprint sketch.

    Unlike a global bottom-k sketch (:func:`rolling_hash_fingerprint`)
    this gives the LOCAL guarantee that makes winnowing the standard
    for plagiarism/clone detection: any shared run of at least
    w + k - 1 words between two documents selects at least one common
    fingerprint, wherever in either document it occurs. Density is
    ~2/(w+1) of all grams.

    Everything is whole-stage-codegen array ops on the text column —
    gram slicing, md5 (chosen over xxhash64 because every SQL engine
    computes the same md5, so the DuckDB oracle replays bit-for-bit),
    windowed min, distinct — then ONE explode to (id, fp) rows. Texts
    shorter than k words fingerprint their whole text; w windows
    clamp to the gram count.

    Returns (``id_col``, ``fp``) — one row per distinct selected
    fingerprint per document.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    ng = F.size(words) - F.lit(k - 1)
    grams = F.when(
        ng > 0,
        F.transform(
            F.sequence(F.lit(0), ng - F.lit(1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(words, i + 1, k))),
        ),
    ).otherwise(F.array(F.md5(F.concat_ws(" ", words))))
    # materialize the gram array in its OWN projection: Column trees
    # have no common-subexpression elimination across lambda bodies,
    # so inlining `grams` into the window transform re-hashes every
    # gram once PER WINDOW — O(n²) md5 per doc (measured 28.8 s →
    # 1.9 s at sf0.1 for the gate query after this split)
    g = df.select(F.col(id_col), grams.alias("_grams"))
    ga = F.col("_grams")
    nwin = F.greatest(F.size(ga) - F.lit(w - 1), F.lit(1))
    selected = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), nwin - F.lit(1)),
            lambda j: F.array_min(F.slice(ga, j + 1, w)),
        )
    )
    return g.select(F.col(id_col), F.explode(selected).alias("fp"))


def ngrams_of_tokens(words: Column, n: int = 3) -> Column:
    """Word n-grams WITH duplicates over an ALREADY-TOKENIZED array —
    the array-input form of :func:`all_ngrams`, for pipelines that
    materialize the token array once (localCheckpoint) and derive
    several gram views from it without re-running the regex split.
    Semantics are identical: arrays shorter than ``n`` yield one gram
    of the whole (space-joined) array."""
    k = F.size(words) - F.lit(n - 1)
    idx = F.sequence(F.lit(0), k - F.lit(1))
    return F.when(
        k > 0,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def all_ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-grams WITH duplicates (repetition analysis needs the
    multiset; dedup.shingles keeps the distinct set). Texts shorter
    than ``n`` words yield one gram of the whole text."""
    c = F.col(col) if isinstance(col, str) else col
    return ngrams_of_tokens(F.split(F.trim(c), r"\s+"), n)


def repetition_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Most-frequent-n-gram mass: count(top n-gram) / count(all
    n-grams) per document — the classic boilerplate/repetition quality
    signal (high ratio = looping or templated text; a Gopher-style
    rule filters docs above a threshold).

    One shuffle keyed (doc, gram) with map-side combine, then a tiny
    per-doc aggregate — fanout is the document's own n-gram count, so
    the operator is linear in corpus size at any scale.
    """
    grams = df.select(
        F.col(id_col).alias("_id"), F.explode(all_ngrams(text_col, n)).alias("_g")
    )
    per_gram = grams.groupBy("_id", "_g").agg(F.count(F.lit(1)).alias("_c"))
    return (
        per_gram.groupBy("_id")
        .agg(
            F.max("_c").alias("top_ngram_count"),
            F.sum("_c").alias("ngram_count"),
        )
        .select(
            F.col("_id").alias(id_col),
            "top_ngram_count",
            "ngram_count",
            (F.col("top_ngram_count") / F.col("ngram_count")).alias("repetition_ratio"),
        )
    )


#: PII patterns kept to RE2-safe syntax (no backrefs/lookarounds) so an
#: SQL oracle can replay them byte-for-byte
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # pure digit runs (ids/cards) BEFORE the phone rule, which would
    # otherwise swallow them as its separator class allows digits
    (r"[0-9]{6,}", "<NUMBER>"),
    (r"\+?[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>"),
)


def scrub_pii(col: Column | str, patterns: tuple[tuple[str, str], ...] = PII_PATTERNS) -> Column:
    """Redact email / phone-like / long-digit-run spans with typed
    placeholders. Pure regexp_replace chain — scan-side projection,
    no shuffle; patterns are ordered so the email rule wins before the
    digit rules can eat a local part."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in patterns:
        c = F.regexp_replace(c, pat, repl)
    return c


def unigram_lm_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style unigram language-model quality score: train token
    frequencies on the corpus itself (one groupBy), then score each
    document by the mean negative log-probability of its tokens —
    documents full of rare/garbage tokens score high, fluent
    in-distribution text scores low. The standard cheap LM filter of
    LLM corpus prep (a full KenLM is the out-of-container upgrade;
    the plan shape is identical).

    Scale shape: tokens explode once; the vocabulary aggregate is one
    map-combined shuffle keyed by token; scoring re-joins tokens to
    the vocabulary on the same key (big-big equi-join, hash
    partitioned — the vocab is NOT assumed broadcastable at corpus
    scale) and aggregates per document. The only driver scalar is the
    corpus token total.
    """
    from duo_spark.operators.search import search_tokens

    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(search_tokens(text_col)).alias("_t")
    )
    # materialize the vocabulary once: the corpus total then comes from
    # the (small) vocab table and the scoring join reuses it, so the
    # raw token stream is scanned exactly twice (vocab build + scoring)
    # instead of four times. Retention: the checkpointed blocks are
    # referenced by the RETURNED lazy plan, so they cannot be released
    # here; long-lived services re-scoring many corpora materialize
    # each result inside a materialize.scope.
    vocab = checkpoint(
        toks.groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    total = float(vocab.agg(F.sum("_c")).first()[0])
    return (
        toks.join(vocab, "_t")
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log(F.lit(total) / F.col("_c"))).alias("lm_score"),
        )
    )


def top_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 50,
) -> DataFrame:
    """Corpus-level top-k word n-grams: (ngram, count), count desc with
    lexicographic tiebreak — the frequency table a tokenizer/BPE
    training run or corpus-drift monitor starts from.

    Scale: one (ngram) hash shuffle with map-side partial counts, then
    a global top-k that plans as TakeOrderedAndProject (per-partition
    heaps of k rows, no global sort). The explode fans each document
    into its gram multiset — linear in corpus token count.
    """
    grams = df.select(F.explode(all_ngrams(text_col, n)).alias("ngram"))
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("ngram"))
        .limit(k)
    )


def corpus_mixture(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Per-stratum corpus mixture report: the rollup a curation
    pipeline reads before choosing sampling weights — document share,
    exact-duplicate rate (distinct normalized-content hashes vs rows),
    token mass, and the median document length of each stratum.

    Output: (strata_col, n_docs, n_unique, dup_rate, doc_share,
    total_tokens, p50_chars).

    Scale: one hash aggregate keyed on (stratum, content-hash) feeding
    a stratum rollup — both map-side combined; the grand total joins
    back as a broadcast single row. The exact `percentile` is the gate
    form; swap `percentile_approx` at 100 TB for bounded memory (same
    plan shape). Stratum count is assumed small (sources/languages),
    so the final table is dimension-sized.
    """
    from duo_spark.operators.dedup import normalize_text

    base = df.select(
        F.col(strata_col),
        F.md5(normalize_text(text_col)).alias("_h"),
        token_count(text_col).cast("long").alias("_tok"),
        F.col(chars_col).cast("long").alias("_ch"),
    )
    per = base.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("_h").alias("n_unique"),
        F.sum("_tok").alias("total_tokens"),
        F.expr("percentile(_ch, 0.5)").alias("p50_chars"),
    )
    total = df.select(F.count(F.lit(1)).cast("double").alias("_total"))
    return (
        per.join(F.broadcast(total))
        .select(
            strata_col,
            "n_docs",
            "n_unique",
            F.round(
                F.lit(1.0) - F.col("n_unique") / F.col("n_docs").cast("double"), 6
            ).alias("dup_rate"),
            F.round(F.col("n_docs") / F.col("_total"), 6).alias("doc_share"),
            "total_tokens",
            F.round("p50_chars", 4).alias("p50_chars"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window document chunking — the context-packing primitive
    that turns long documents into training-window-sized pieces.

    Chunks start every ``chunk_tokens - overlap`` tokens and span up to
    ``chunk_tokens``; the final chunk may be shorter (it is emitted as
    long as its start lies inside the document). Empty/whitespace-only
    documents yield one empty chunk, keeping every input row
    represented.

    Output: (id_col, chunk_idx, n_tokens, chunk_text).

    Scale: pure Column algebra (split → sequence → transform → explode)
    — whole-stage codegen, no shuffle, no UDF; output is
    token-proportional with the ~overlap/chunk_tokens duplication
    factor every sliding-window chunker pays.
    """
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap {overlap} must be < chunk_tokens {chunk_tokens}")
    step = chunk_tokens - overlap
    toks = tokens(text_col)
    n = F.size(toks)
    n_chunks = F.greatest(F.ceil(n.cast("double") / step).cast("int"), F.lit(1))
    chunked = df.select(
        F.col(id_col),
        toks.alias("_tok"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).filter((F.col("chunk_idx") * step < F.size("_tok")) | (F.col("chunk_idx") == 0))
    piece = F.slice(F.col("_tok"), F.col("chunk_idx") * step + 1, chunk_tokens)
    return chunked.select(
        id_col,
        "chunk_idx",
        F.size(piece).alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 3.0,
    max_mean_token_len: float = 10.0,
    min_stopword_ratio: float = 0.06,
    max_punct_ratio: float = 0.25,
    max_repetition_ratio: float = 0.2,
    ngram_n: int = 3,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al., "Scaling
    Language Models: ... Gopher", 2021, Table A1 family): each rule is
    an explicit boolean flag so curation can audit WHY a document was
    dropped, plus the conjunction ``keep``.

    Output: (id_col, too_short, too_long, bad_token_len, low_stopword,
    high_punct, too_repetitive, keep).

    Scale: the counter rules are scan-side projections; the repetition
    rule joins the (doc, gram)-aggregated repetition_ratio back on the
    id — one shuffle join, AQE-broadcast when the corpus slice is
    small. All ratio comparisons are IEEE-deterministic (same integer
    inputs → same double division in any engine).
    """
    feats = quality_features(df.select(F.col(id_col), F.col(text_col)), text_col)
    rep = repetition_ratio(df, id_col, text_col, n=ngram_n).select(
        id_col, "repetition_ratio"
    )
    out = feats.join(rep, id_col).select(
        id_col,
        (F.col("n_tokens") < min_tokens).alias("too_short"),
        (F.col("n_tokens") > max_tokens).alias("too_long"),
        (
            (F.col("mean_token_len") < min_mean_token_len)
            | (F.col("mean_token_len") > max_mean_token_len)
        ).alias("bad_token_len"),
        (F.col("stopword_ratio") < min_stopword_ratio).alias("low_stopword"),
        (F.col("punct_ratio") > max_punct_ratio).alias("high_punct"),
        (F.col("repetition_ratio") > max_repetition_ratio).alias("too_repetitive"),
    )
    keep = ~(
        F.col("too_short")
        | F.col("too_long")
        | F.col("bad_token_len")
        | F.col("low_stopword")
        | F.col("high_punct")
        | F.col("too_repetitive")
    )
    return out.withColumn("keep", keep)


def collocation_lift(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
    k: int = 30,
) -> DataFrame:
    """Top-k word-bigram collocations by lift — PMI's ratio
    p(xy) / (p(x)·p(y)) WITHOUT the log (Church & Hanks 1990 compute
    log2 of exactly this quantity; the log is monotone, so the ranking
    is identical). Skipping it keeps the score one IEEE divide over
    exact integer counts — bit-reproducible across engines, where
    ``ln``'s last ulp is libm-specific (the same policy as the HLL
    estimator in operators/sketch.py).

    Output: (bigram, n_pair, n_left, n_right, lift), lift descending
    with a bigram tiebreak, cut at ``min_count`` pair occurrences so
    one-off typo pairs don't dominate (classic MI failure mode).

    Scale: the corpus is scanned ONCE — the regex tokenization is
    materialized as per-doc token arrays (localCheckpoint) and both
    gram views (token explode, bigram explode) read the arrays, each
    feeding one map-side-combined hash aggregate; the
    corpus totals are 1-row aggregates OVER those count tables,
    broadcast back in — fully lazy, no driver-side actions, and the
    unigram count table's exchange is reused across its three
    consumers (both join sides + the total). Only bigram rows
    surviving ``min_count`` enter the joins. The lift numerator
    n_pair·N_uni² stays exact in int64 up to ~10^9 tokens; past that
    switch the product to double (ranking unchanged — identical
    rounding both engines) — noted rather than branched because the
    gate compares int64 bits.
    """
    # one regex tokenization pass, not two: the unigram explode and the
    # bigram build both read the materialized token arrays (the
    # bigram_lm_score checkpoint convention) — without this each side's
    # corpus scan re-runs split(trim(text)) per row
    toks_arr = checkpoint(df.select(
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_ts")
    ))
    toks = toks_arr.select(F.explode("_ts").alias("_w"))
    uni = toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
    n_uni = uni.agg(F.sum("_c").alias("_n_uni"))
    grams = toks_arr.select(F.explode(ngrams_of_tokens(F.col("_ts"), 2)).alias("bigram"))
    bigram_counts = grams.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    # Σ n_pair over the UNFILTERED count table == total gram count, so
    # the total rides the same aggregate instead of a third scan
    n_bi = bigram_counts.agg(F.sum("n_pair").alias("_n_bi"))
    pairs = bigram_counts.filter(
        # all_ngrams' short-text fallback emits the whole text as one
        # gram; only true 2-token grams have unigram factors
        F.size(F.split(F.col("bigram"), " ")) == 2
    ).filter(F.col("n_pair") >= min_count)
    # join the UN-renamed uni (alias-disambiguated self-joins, renames
    # after) so both join sides and the n_uni total share ONE _w
    # exchange — a pre-join Project below the exchange defeats the
    # reuse (containment_pairs' measured lesson, operators/dedup.py)
    keyed = pairs.withColumn(
        "_x", F.split(F.col("bigram"), " ").getItem(0)
    ).withColumn("_y", F.split(F.col("bigram"), " ").getItem(1))
    scored = (
        keyed.join(uni.alias("L"), keyed["_x"] == F.col("L._w"))
        .join(uni.alias("R"), keyed["_y"] == F.col("R._w"))
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "bigram",
            "n_pair",
            F.col("L._c").alias("n_left"),
            F.col("R._c").alias("n_right"),
            F.round(
                (F.col("n_pair") * F.col("_n_uni") * F.col("_n_uni"))
                .cast("double")
                / (F.col("_n_bi") * F.col("L._c") * F.col("R._c"))
                .cast("double"),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), F.asc("bigram")).limit(k)


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) — the
    classic cheap compressibility filter of corpus curation: binary
    junk and base64 blobs score near log2(charset), stuck-key
    repetition ("aaaa…") scores near 0, natural language sits in a
    narrow band in between. Computed from exact integer character
    counts as ``log2(n) - sum(c*log2(c))/n`` so an SQL oracle replays
    the same formula on the same integers.

    Returns ``(id_col, n_chars_counted, n_distinct_chars, entropy)``
    with entropy rounded to 6 dp.

    Scale shape: one explode to characters, then two map-side-combined
    hash aggregates — (doc, char) counts (the combiner collapses each
    partition's chars before the shuffle, so the exchange carries at
    most docs x charset rows) and the per-doc entropy fold. Stays in
    whole-stage codegen; no UDFs.
    """
    chars = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.col(text_col), "")).alias("_ch"),
    ).filter(F.col("_ch") != "")
    counts = chars.groupBy("_id", "_ch").agg(F.count(F.lit(1)).alias("_c"))
    return counts.groupBy(F.col("_id").alias(id_col)).agg(
        F.sum("_c").alias("n_chars_counted"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.round(
            F.log2(F.sum("_c"))
            - F.sum(F.col("_c") * F.log2(F.col("_c"))) / F.sum("_c"),
            6,
        ).alias("entropy"),
    )


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Bigram language-model perplexity score with add-alpha
    smoothing — the KenLM-shaped upgrade of
    :func:`unigram_lm_score`: a document's tokens can all be common
    while their ORDER is garbage (shuffled text, keyword stuffing);
    conditioning each token on its predecessor catches that. Score =
    mean over bigram positions of ``-ln((C(w1,w2) + alpha) /
    (C(w1) + alpha*V))`` where counts are corpus-trained and V is the
    unigram vocabulary size (Chen & Goodman 1996's additive-smoothing
    baseline).

    Returns ``(id_col, n_bigrams, bigram_lm)`` (score rounded 6 dp);
    documents with fewer than 2 tokens are absent (no bigram to
    score, matching an SQL oracle's inner join semantics).

    Scale shape: bigram pairs are built IN the row as zipped array
    slices (codegen, no positional self-join), exploded once; model
    training is two map-combined hash aggregates (bigram counts,
    unigram counts); scoring re-joins the exploded pairs to both
    count tables on their natural keys — big-big hash joins, neither
    side assumed broadcastable at corpus scale. Driver scalars: V
    only.
    """
    from duo_spark.operators.search import search_tokens

    # the tokenized arrays feed THREE regex passes without a
    # checkpoint: the pair explode is derived once per consumer (the
    # bigram-count aggregate and the scoring join shuffle different
    # row sets, so AQE cannot reuse their exchanges) and the unigram
    # table tokenizes a third time. One doc-count-row checkpoint of
    # (id, tokens) makes the regex run a single corpus pass; the
    # downstream explodes are cheap array codegen, and the >=2 filter
    # now reads the materialized array instead of re-running the regex.
    toks_all = checkpoint(df.select(
        F.col(id_col).alias("_id"), search_tokens(text_col).alias("_ts")
    ))
    toks = toks_all.filter(F.size("_ts") >= 2)
    pairs = toks.select(
        "_id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("_ts"), 1, F.size("_ts") - 1).alias("w1"),
                F.slice(F.col("_ts"), 2, F.size("_ts") - 1).alias("w2"),
            )
        ).alias("_p")
    ).select("_id", F.col("_p.w1").alias("_w1"), F.col("_p.w2").alias("_w2"))
    # the unigram table counts every token (including each doc's last,
    # which never heads a bigram) — the standard LM convention where
    # C(w1) is w1's corpus frequency, and what the oracle replays;
    # reads the checkpointed arrays (all docs, pre-filter) instead of
    # tokenizing the corpus a third time
    # (A round-15 probe replaced this checkpoint+count pair with
    # persist+count — one fewer job — and measured a consistent small
    # REGRESSION (+0.2s on bigram_lm/ccnet_buckets at sf0.1): the
    # cached columnar scan feeding the big scoring join costs more
    # than the saved job. Kept as the checkpoint.)
    uni = checkpoint(
        toks_all.select(F.explode("_ts").alias("_w1"))
        .groupBy("_w1")
        .agg(F.count(F.lit(1)).alias("_c1"))
    )
    v = uni.count()
    bi = pairs.groupBy("_w1", "_w2").agg(F.count(F.lit(1)).alias("_c2"))
    scored = (
        pairs.join(bi, ["_w1", "_w2"]).join(uni, "_w1")
    )
    return scored.groupBy(F.col("_id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.avg(
                F.log(
                    (F.col("_c1") + F.lit(alpha) * F.lit(float(v)))
                    / (F.col("_c2") + F.lit(alpha))
                )
            ),
            6,
        ).alias("bigram_lm"),
    )


def segment_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 3,
    min_docs: int = 5,
) -> DataFrame:
    """CCNet-style boilerplate detection at segment granularity: chop
    each document into consecutive ``seg_tokens``-token segments, call
    a segment boilerplate when it occurs in at least ``min_docs``
    DISTINCT documents (navigation chrome, license headers, cookie
    banners — text whose frequency across documents is the tell), and
    report per document how much of it is boilerplate.

    Returns ``(id_col, n_segments, n_boilerplate, boilerplate_ratio,
    kept_tokens)`` where kept_tokens counts tokens in the non-
    boilerplate segments (the length of the document after the
    standard removal step).

    Scale shape: segments are materialized IN the row (sequence +
    array_join over slices — codegen), exploded once; corpus segment
    document-frequency is two map-combined hash aggregates (distinct
    (segment, doc), then segment df); the per-doc report re-joins the
    exploded segments to the frequency table on the segment key. The
    frequent-segment table is value-skewed by construction — the join
    key is the full segment text, and AQE's skew-join split handles
    the hot segments.
    """
    from duo_spark.operators.search import search_tokens

    toks = df.select(
        F.col(id_col).alias("_id"), search_tokens(text_col).alias("_ts")
    ).filter(F.size("_ts") >= 1)
    nseg = F.ceil(F.size("_ts") / F.lit(seg_tokens)).cast("int")
    segs = toks.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.struct(
                    F.array_join(
                        F.slice(F.col("_ts"), i * seg_tokens + 1, seg_tokens), " "
                    ).alias("seg"),
                    F.least(
                        F.lit(seg_tokens), F.size("_ts") - i * seg_tokens
                    ).alias("toks"),
                ),
            )
        ).alias("_s")
    ).select("_id", F.col("_s.seg").alias("_seg"), F.col("_s.toks").alias("_tk"))
    seg_df = (
        segs.select("_seg", "_id").distinct()
        .groupBy("_seg")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    joined = segs.join(seg_df, "_seg")
    boiler = F.col("_df") >= min_docs
    return joined.groupBy(F.col("_id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(boiler, 1).otherwise(0)).alias("n_boilerplate"),
        F.round(
            F.sum(F.when(boiler, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("boilerplate_ratio"),
        F.sum(F.when(boiler, 0).otherwise(F.col("_tk"))).alias("kept_tokens"),
    )


def readability(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Flesch-style readability score — the curation
    screen that separates prose from tables/code/keyword-stuffing by
    sentence and word shape rather than vocabulary. All three inputs
    are deterministic integer counts (whole-stage codegen, no UDF),
    so an SQL oracle replays the formula exactly:

    - words: whitespace tokens (:func:`tokens`);
    - sentences: maximal ``[.!?]+`` runs, floored at 1;
    - syllables: maximal vowel-group runs ``[aeiouy]+`` of the
      lowercased text — the standard lib-free syllable proxy.

    ``flesch = 206.835 - 1.015*(words/sentences) -
    84.6*(syllables/words)`` (Flesch 1948), NULL-safe: empty docs get
    0.0. Returns ``(id_col, n_words, n_sentences, n_syllables,
    flesch)`` with the score rounded to 6 dp.

    Scale: one projection, no shuffle at all — the score rides the
    scan like gopher_rules.
    """
    c = F.col(text_col)
    n_words = F.size(F.filter(tokens(c), lambda t: t != ""))
    n_sent = F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1))
    n_syl = F.regexp_count(F.lower(c), F.lit("[aeiouy]+"))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * n_words.cast("double") / n_sent.cast("double")
        - F.lit(84.6) * n_syl.cast("double") / n_words.cast("double")
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
        F.round(F.when(n_words > 0, flesch).otherwise(0.0), 6).alias(
            "flesch"
        ),
    )


def zipf_slope(
    df: DataFrame, text_col: str = "text", top_k: int = 1000
) -> DataFrame:
    """Zipf's-law fit over the corpus token-frequency head: OLS slope
    of ``ln(freq)`` against ``ln(rank)`` for the ``top_k`` most
    frequent tokens — natural corpora sit near -1; scraped boilerplate
    and generator loops bend the head flat (slope → 0), OCR noise
    steepens it. A one-number corpus-health check (Zipf 1949;
    Piantadosi 2014 for the diagnostics reading).

    Returns ONE row ``(n_tokens, n_types, n_ranked, zipf_slope,
    zipf_intercept)`` (6 dp). Rank ties break on the token string, so
    the rank assignment — and therefore the fit — is a deterministic
    total order an SQL oracle replays exactly.

    Scale: token counts are one map-side-combined hash aggregate;
    the count table is localCheckpointed so the totals branch and the
    top-k branch share ONE corpus scan + shuffle (without it Spark
    recomputes the explode+count per branch). Only the ``top_k`` head
    (bounded, default 1000 rows) passes through the single-partition
    rank window — a TakeOrdered of the count table, not a global sort
    of it. The OLS reduces to five scalar sums.
    """
    toks = df.select(
        F.explode(tokens(F.col(text_col))).alias("_w")
    ).filter(F.col("_w") != "")
    tf = checkpoint(
        toks.groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_f"))
    )
    totals = tf.agg(
        F.sum("_f").alias("n_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    top = tf.orderBy(F.col("_f").desc(), F.col("_w")).limit(top_k)
    # rank only the bounded top-k head, through the two-level keyed
    # rank (constant key) rather than a bare Window.orderBy — keeps
    # the repo's zero-`WindowExec: No Partition Defined` invariant
    # (round 8) and stays parallel even if top_k is raised.
    from duo_spark.operators.sharding import keyed_row_number

    ranked = keyed_row_number(
        top.withColumn("_one", F.lit(0)),
        "_one",
        [F.col("_f").desc(), F.col("_w")],
        out_col="_r",
    )
    xy = ranked.select(
        F.log(F.col("_r").cast("double")).alias("_x"),
        F.log(F.col("_f").cast("double")).alias("_y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    slope = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
        F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    )
    intercept = (F.col("_sy") - slope * F.col("_sx")) / F.col("_n")
    return s.crossJoin(F.broadcast(totals)).select(
        "n_tokens",
        "n_types",
        F.col("_n").alias("n_ranked"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


def luhn_valid(col: Column | str) -> Column:
    """Luhn checksum validity of a digit string (ISO/IEC 7812 — the
    mod-10 check every payment-card number passes): TRUE iff the
    column's digits (separators stripped) are 12-19 long and the
    doubled-alternate digit sum ≡ 0 (mod 10). The precision filter
    for PII card-number detection — a random ``[0-9]{16}`` run passes
    Luhn only 10% of the time, so gating the <NUMBER> redaction on it
    cuts false positives 10× while keeping real PANs.

    Pure Column: digits reverse into an array and fold through ONE
    higher-order aggregate (doubling every second digit, subtracting
    9 above 9) — whole-stage codegen, no UDF, so it runs scan-side at
    any scale and an SQL oracle replays it digit-for-digit.
    """
    c = F.col(col) if isinstance(col, str) else col
    digits = F.regexp_replace(c, r"[^0-9]", "")
    n = F.length(digits)
    # reversed digit array: position 1 = check digit, every EVEN
    # reversed position doubles
    rev = F.split(F.reverse(digits), "")
    tot = F.aggregate(
        F.filter(rev, lambda d: d != ""),
        F.struct(F.lit(0).alias("s"), F.lit(0).alias("i")),
        lambda acc, d: F.struct(
            (
                acc["s"]
                + F.when(
                    acc["i"] % 2 == 1,
                    F.when(
                        d.cast("int") * 2 > 9, d.cast("int") * 2 - 9
                    ).otherwise(d.cast("int") * 2),
                ).otherwise(d.cast("int"))
            ).alias("s"),
            (acc["i"] + 1).alias("i"),
        ),
        lambda acc: acc["s"],
    )
    return (n >= 12) & (n <= 19) & (tot % 10 == 0)


#: word blocklist for :func:`blocklist_match` demos/tests; real
#: pipelines pass their own (UT1-style lists run to ~10^5 terms).
DEFAULT_BLOCKLIST: tuple[str, ...] = ("casino", "viagra", "xxx", "warez")


def blocklist_match(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    terms: tuple[str, ...] = DEFAULT_BLOCKLIST,
) -> DataFrame:
    """Blocklist screening — the URL/bad-words filter stage of every
    web-corpus pipeline (C4 and RefinedWeb both gate on curated term
    lists): per document, how many DISTINCT blocklist terms occur as
    whole lowercase tokens, plus total hits and a boolean flag.

    Returns ``(id_col, n_blocked_terms, n_blocked_hits, blocked)``.

    Scale shape: the term list broadcasts as an array literal and the
    match is ``array_intersect`` / filtered-size over the document's
    lowercased token array — pure Column, scan-side, no shuffle and
    no per-term regex pass (one tokenize amortizes the whole list;
    a 10^5-term list should switch to a broadcast-join against an
    exploded token table, same results, one shuffle).
    """
    hits = blocklist_hits(F.col(text_col), terms)
    return df.select(
        F.col(id_col),
        F.size(F.array_distinct(hits)).alias("n_blocked_terms"),
        F.size(hits).alias("n_blocked_hits"),
        (F.size(hits) > 0).alias("blocked"),
    )


def blocklist_hits(
    col: Column | str, terms: tuple[str, ...] = DEFAULT_BLOCKLIST
) -> Column:
    """Column form of :func:`blocklist_match`: the array of lowercase
    whole-token blocklist hits in the text — composable into wider
    projections (pipelines.curate_documents flags every predicate
    stage in one pass)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.transform(
        F.filter(tokens(c), lambda t: t != ""), lambda t: F.lower(t)
    )
    lst = F.array(*[F.lit(t) for t in terms])
    return F.filter(toks, lambda t: F.array_contains(lst, t))


def split_sentences(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Sentence segmentation to rows — the unit-of-work explode under
    per-sentence dedup, quality scoring, and citation alignment.
    A sentence is a maximal span ending at a ``[.!?]+`` run (terminal
    punctuation kept with its sentence); a trailing span without one
    is still emitted. Whitespace-only fragments are dropped, interior
    whitespace preserved verbatim, boundary whitespace trimmed.

    Returns ``(id_col, sentence_idx, sentence)`` with ``sentence_idx``
    0-based over the SURVIVING sentences in document order.

    Scale shape: one regexp pass appends a sentinel after each
    terminator run (same \u0001 trick as bpe_ish_tokens), one split
    + filter + posexplode — scan-side fan-out, no shuffle, no UDF;
    deterministic and SQL-replayable.
    """
    c = F.col(text_col)
    marked = F.regexp_replace(c, r"([.!?]+)", "$1\u0001")
    parts = F.filter(
        F.transform(F.split(marked, "\u0001"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    return df.select(
        F.col(id_col),
        F.posexplode(parts).alias("sentence_idx", "sentence"),
    )


def token_js_divergence(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence between two corpora's token
    distributions (Lin 1991) — the drift audit for TEXT the way
    drift_psi is for numerics: did this month's crawl shift
    vocabulary against last month's, does a filtered corpus still
    look like its source? JS is symmetric and bounded (0 ≤ JS ≤ ln 2),
    and unlike KL it is finite when a token appears on one side only
    (the mass folds against the mixture M = (P+Q)/2).

    Returns ONE row ``(n_tokens_left, n_types_left, n_tokens_right,
    n_types_right, n_types_union, js_divergence, js_distance)``
    (nats, 6 dp; ``js_distance = sqrt(JS)`` is the metric form).

    Scale shape: one map-side-combined token count per side, one
    full-outer equi-join on the token (shuffle = vocabulary size,
    never corpus rows), one scalar sum. Exact integer counts + ln —
    SQL-replayable term by term.
    """
    def _tf(df: DataFrame, side: str) -> DataFrame:
        toks = df.select(
            F.explode(tokens(F.col(text_col))).alias("_w")
        ).filter(F.col("_w") != "")
        return toks.groupBy("_w").agg(F.count(F.lit(1)).alias(f"_f{side}"))

    lf = _tf(left, "l")
    rf = _tf(right, "r")
    j = lf.join(rf, "_w", "full_outer").select(
        F.coalesce("_fl", F.lit(0)).alias("_fl"),
        F.coalesce("_fr", F.lit(0)).alias("_fr"),
    )
    tot = j.agg(
        F.sum("_fl").alias("nl"),
        F.sum(F.when(F.col("_fl") > 0, 1).otherwise(0)).alias("tl"),
        F.sum("_fr").alias("nr"),
        F.sum(F.when(F.col("_fr") > 0, 1).otherwise(0)).alias("tr"),
        F.count(F.lit(1)).alias("tu"),
    )
    p = F.col("_fl").cast("double") / F.col("nl")
    q = F.col("_fr").cast("double") / F.col("nr")
    m = (p + q) / 2
    term = F.when(F.col("_fl") > 0, 0.5 * p * (F.log(p) - F.log(m))).otherwise(
        0.0
    ) + F.when(F.col("_fr") > 0, 0.5 * q * (F.log(q) - F.log(m))).otherwise(0.0)
    js = (
        j.crossJoin(F.broadcast(tot))
        .agg(F.sum(term).alias("_js"))
    )
    return js.crossJoin(F.broadcast(tot)).select(
        F.col("nl").alias("n_tokens_left"),
        F.col("tl").alias("n_types_left"),
        F.col("nr").alias("n_tokens_right"),
        F.col("tr").alias("n_types_right"),
        F.col("tu").alias("n_types_union"),
        F.round(F.col("_js"), 6).alias("js_divergence"),
        F.round(F.sqrt(F.greatest(F.col("_js"), F.lit(0.0))), 6).alias(
            "js_distance"
        ),
    )


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2, 3),
    approx: bool = False,
    m: int = 4096,
) -> DataFrame:
    """Distinct-n diversity report (Li et al. 2016's distinct-1/-2,
    the standard generation-diversity audit): per n, the corpus's
    total word n-gram occurrences, the distinct n-gram count, and
    their ratio — collapsed, templated, or looped text drives the
    ratio toward 0 while diverse text keeps it near 1 for large n.

    Returns one row per n: ``(n, total_ngrams, distinct_ngrams,
    distinct_ratio)`` (6 dp).

    Scale shape: per n, one explode + one map-side-combined distinct
    aggregate (shuffle = distinct grams, the same exchange class as
    top_ngrams); the per-n results union into one tiny report. Counts
    are exact integers — SQL-replayable.

    ``approx=True`` (round 12, VERDICT r11 #4) swaps the exact
    distinct for the repo's own mergeable HLL register algebra
    (operators/sketch.py): grams hash to an oracle-replayable 52-bit
    md5 long and the shuffle carries at most ``m`` register rows per
    n INSTEAD of every distinct gram — the difference between a
    bounded exchange and shuffling trillions of 3-grams at 100 TB.
    ±1.04/sqrt(m) standard error (~1.6% at m=4096) on a ratio metric
    that tolerates it; the estimate is bit-deterministic (integer
    registers, one float divide), so the same SQL oracle replays it.
    """
    from duo_spark.operators.sketch import hll_estimate, hll_sketch

    # ONE corpus scan for ALL n levels (round 14): each row explodes
    # its per-n gram arrays tagged with n in a single generator, and
    # the per-level numbers come from one grouped aggregate keyed by
    # (n[, gram/bucket]) — the previous per-n loop ran a full
    # scan + explode + aggregate PER LEVEL, i.e. len(ns) passes over
    # the corpus where one suffices (at 100 TB that is len(ns)× the
    # input I/O and tokenization CPU for identical output). Per-level
    # gram multisets, aggregates, and rounding are unchanged — only
    # the number of passes drops (3 scans / 6 exchanges → 1 scan /
    # 2 exchanges at sf0.1, plans/r14/ngram_diversity_*).
    def _tag(n: int):
        # single-parameter lambda: a 2-arg form would be silently
        # bound as transform's (element, index) overload
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("_g"))

    tagged = F.flatten(
        F.array(*[F.transform(all_ngrams(F.col(text_col), n), _tag(n)) for n in ns])
    )
    # the fused explode concentrates ALL n levels' tokenization in one
    # generator, so a single-split input would run it on one core (the
    # old per-n branches at least ran as three concurrent stages) —
    # widen first; no-op at real scale (see ensure_parallelism)
    from duo_spark.operators.util import ensure_parallelism

    grams = (
        ensure_parallelism(df).select(F.explode(tagged).alias("_t"))
        .select(F.col("_t.n").alias("n"), F.col("_t._g").alias("_g"))
        .filter(F.col("_g") != "")
    )
    # empty n levels drop on both branches by construction (no gram
    # rows → no group), the inner-join semantics the SQL oracle pins
    # (r12 ADVICE / round-14 exact-branch fix)
    if approx:
        gh = F.conv(F.substring(F.md5("_g"), 1, 13), 16, 10).cast("long")
        # the (n, register, count) table carries the occurrence total
        # through the same aggregate, and the <= len(ns)·m-row result
        # is lazily checkpointed so its two consumers (totals,
        # estimate) never re-run the explode (round-12 review fix)
        sk = checkpoint(
            hll_sketch(
                grams.select("n", gh.alias("_gh")), ["n"], "_gh", m,
                count_col="_cnt",
            ),
            eager=False,
        )
        est = hll_estimate(
            sk.select("n", "bucket", "register"), ["n"], m,
            small_correct=True,
        ).select("n", F.col("estimate").alias("distinct_ngrams"))
        tot = sk.groupBy("n").agg(F.sum("_cnt").alias("total_ngrams"))
        agg = tot.join(est, "n")
    else:
        # two-level aggregate instead of count_distinct: one map-side-
        # combined exchange keyed (n, gram) carrying per-gram counts
        # (identical volume to a plain distinct), then a tiny per-n
        # rollup — the mixed count/count_distinct form plans an Expand
        # that doubles the exploded gram stream (measured 2.6× slower)
        per_gram = grams.groupBy("n", "_g").agg(F.count(F.lit(1)).alias("_c"))
        agg = per_gram.groupBy("n").agg(
            F.sum("_c").alias("total_ngrams"),
            F.count(F.lit(1)).alias("distinct_ngrams"),
        )
    return agg.select(
        F.col("n").cast("int").alias("n"),
        "total_ngrams",
        "distinct_ngrams",
        F.round(
            F.col("distinct_ngrams").cast("double")
            / F.greatest(F.col("total_ngrams"), F.lit(1)),
            6,
        ).alias("distinct_ratio"),
    )


def sentence_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 3,
) -> DataFrame:
    """Per-sentence corpus dedup + boilerplate drop — the CCNet
    within-corpus pass (Wenzek et al. 2020 dedup paragraphs across
    the shard before anything else; nav chrome, cookie banners and
    license boilerplate repeat across thousands of pages while real
    prose doesn't). Composes :func:`split_sentences` with the exact
    per-sentence dedup ladder (VERDICT r10 #7):

    A sentence OCCURRENCE survives iff
    - it is the corpus-wide FIRST occurrence of its normalized form
      (lowercase, terminal ``[.!?]`` run stripped, whitespace
      collapsed — "Accept cookies." and "ACCEPT COOKIES!" are the
      same boilerplate), ordering occurrences by
      ``(id_col, sentence_idx)``, AND
    - its normalized form occurs in at most ``max_doc_freq`` distinct
      documents (above that it is boilerplate and drops EVERYWHERE,
      first occurrence included).

    Returns one row per input document:
    ``(id_col, n_sentences, n_kept, text_dedup)`` where ``text_dedup``
    re-joins the surviving sentences in document order with single
    spaces (empty string when everything dropped — including
    documents whose text splits to zero sentences).

    Scale shape: one scan-side explode, ONE shuffle keyed by the
    normalized sentence (both the doc-frequency and the first
    occurrence come from the same map-side-combinable
    ``(count_distinct, min(struct))`` aggregate — never a global
    window), one equi-join back, one per-doc rollup. Shuffle volume
    is O(distinct sentences), the same exchange class as exact dedup.
    """
    # the sentence table feeds BOTH the per-form aggregate and the join
    # probe; without a checkpoint the split+normalize regex pipeline
    # executes once per consumer (different exchanges — partial-agg vs
    # raw occurrence rows — so AQE cannot reuse them)
    sents = checkpoint(split_sentences(df, id_col, text_col).withColumn(
        "_nrm",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("sentence")), r"[.!?]+$", ""),
                r"\s+",
                " ",
            )
        ),
    ))
    pos = F.struct(
        F.col(id_col).alias("_d"), F.col("sentence_idx").alias("_i")
    )
    stats = sents.groupBy("_nrm").agg(
        F.count_distinct(F.col(id_col)).alias("_df"),
        F.min(pos).alias("_first"),
    )
    keep = (F.col("_df") <= max_doc_freq) & (F.col("_first") == pos)
    per_doc = (
        sents.join(stats, "_nrm")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                keep,
                                F.struct(
                                    F.col("sentence_idx").alias("i"),
                                    F.col("sentence").alias("s"),
                                ),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
            ).alias("text_dedup"),
        )
    )
    # documents whose text split to zero sentences still get a row
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_sentences", F.lit(0)).alias("n_sentences"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def tokenizer_fertility(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Tokenizer fertility report per corpus slice (round 11): the
    standard multilingual-tokenizer health metric — subword tokens per
    whitespace word ("fertility", Rust et al. 2021), plus characters
    and UTF-8 bytes per subword. A tokenizer that fragments one
    language 3× more than another starves it of effective context;
    this surfaces that from corpus stats alone, before any training.

    Uses the same deterministic proxy segmentation the ``token_count``
    gate pins (:func:`bpe_ish_tokens` — letter/digit/punct runs), so
    the numbers are comparable across every text operator here.

    One projection + one map-side-combined groupBy — ratios computed
    from exact integer sums AFTER aggregation, where an SQL oracle
    replays the same division. Scale: output is |slices| rows.
    """
    c = F.col(text_col)
    per_doc = df.select(
        F.col(group_col),
        F.size(F.filter(tokens(c), lambda t: t != "")).alias("_w"),
        F.size(bpe_ish_tokens(c)).alias("_s"),
        F.length(c).alias("_c"),
        F.octet_length(c).alias("_b"),
    )
    agg = per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_w").alias("n_words"),
        F.sum("_s").alias("n_subwords"),
        F.sum("_c").alias("n_chars"),
        F.sum("_b").alias("n_bytes"),
    )
    # try_divide: a slice of all-empty docs has n_words = n_subwords = 0
    # and under ANSI mode a plain `/` kills the whole job; DuckDB returns
    # NULL for 0/0 division here, so NULL is also the parity-correct value
    return agg.select(
        group_col,
        "n_docs",
        "n_words",
        "n_subwords",
        F.round(F.try_divide("n_subwords", "n_words"), 6).alias("fertility"),
        F.round(F.try_divide("n_chars", "n_subwords"), 6).alias("chars_per_subword"),
        F.round(F.try_divide("n_bytes", "n_subwords"), 6).alias("bytes_per_subword"),
    )


def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet head/middle/tail perplexity split (Wenzek et al. 2020):
    score every document with the corpus-trained bigram LM
    (:func:`bigram_lm_score`) and bucket it against its OWN language
    slice's score terciles — "head" (lowest perplexity) is the
    third CCNet keeps for LM pretraining, "tail" the third it drops.
    Per-language thresholds matter: absolute cutoffs starve whichever
    language the LM models worst.

    Scale shape: thresholds are ONE percentile aggregate per language
    (a proper aggregate — never an ntile window, whose per-language
    sort partition is the 1e9-row anti-pattern), broadcast back as a
    |languages|-row table. Scores and thresholds are both rounded to
    6 decimals before comparison so an SQL oracle buckets
    identically. Documents with fewer than 2 tokens can't be scored
    and land in an explicit 'unscored' bucket.

    Returns ``(id_col, lang_col, bigram_lm, bucket)``.
    """
    scores = bigram_lm_score(df, id_col, text_col, alpha).select(
        id_col, "bigram_lm"
    )
    # the scored projection feeds BOTH the threshold aggregate and the
    # output join; checkpoint the 3-column frame once so the full
    # bigram-LM plan (explode + two count aggregates + two big joins)
    # doesn't execute twice
    scored = checkpoint(
        df.select(id_col, lang_col).join(scores, id_col, "left"), eager=False
    )
    th = (
        scored.filter(F.col("bigram_lm").isNotNull())
        .groupBy(F.col(lang_col).alias("_lang_th"))
        .agg(
            F.round(F.percentile("bigram_lm", F.lit(1.0 / 3)), 6).alias("_t1"),
            F.round(F.percentile("bigram_lm", F.lit(2.0 / 3)), 6).alias("_t2"),
        )
    )
    bucket = (
        F.when(F.col("bigram_lm").isNull(), F.lit("unscored"))
        .when(F.col("bigram_lm") <= F.col("_t1"), F.lit("head"))
        .when(F.col("bigram_lm") <= F.col("_t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    # eqNullSafe: groupBy keeps the NULL-lang slice as its own group, so
    # a null-safe join gives those docs their own terciles instead of a
    # never-matching equi-join that dumped every scored NULL-lang doc in
    # 'tail' (round-12 ADVICE fix; oracle joins IS NOT DISTINCT FROM)
    return scored.join(
        F.broadcast(th), F.col(lang_col).eqNullSafe(F.col("_lang_th")), "left"
    ).select(id_col, lang_col, "bigram_lm", bucket.alias("bucket"))


def line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    sep_pattern: str = r"\n",
    min_words: int = 3,
    drop_no_letter: bool = True,
    drop_bullet: bool = True,
    require_terminal: bool = False,
    join_sep: str = "\n",
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2 /
    RefinedWeb line-wise corrections, round 12): split each document
    into lines, keep only lines that pass the rules, and return the
    rewritten document next to its attrition counts — nav chrome,
    bullets, and numeric debris removed line-by-line instead of
    dropping the whole doc.

    Rules (each a flag parameter): at least ``min_words`` whitespace
    words; contains at least one letter (``drop_no_letter`` — kills
    timestamps/page numbers); does not start with a bullet glyph
    (``drop_bullet``: ``- * •``); ends with terminal punctuation
    (``require_terminal`` — C4's "terminal punctuation mark" rule,
    off by default because it is aggressive outside web prose).

    Returns ``(id_col, n_lines, n_kept, text_clean)`` — empty docs
    keep a row with zeros, all-filtered docs get ``text_clean = ''``.

    Scale shape: pure Column algebra — one split + array filter +
    join riding the scan; no shuffle, no UDF, no per-line explode
    (the per-doc array form keeps it one row in, one row out). All
    single-parameter higher-order lambdas (the two-parameter form is
    silently (element, index) in PySpark).
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), sep_pattern), lambda s: F.trim(s)),
        lambda s: s != "",
    )

    def _keep(line):
        words = F.size(F.filter(F.split(line, r"\s+"), lambda t: t != ""))
        cond = words >= F.lit(min_words)
        if drop_no_letter:
            cond = cond & line.rlike("[A-Za-z]")
        if drop_bullet:
            cond = cond & ~line.rlike("^[-*•]")
        if require_terminal:
            cond = cond & line.rlike("[.!?]$")
        return cond

    kept = F.filter(lines, _keep)
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, join_sep).alias("text_clean"),
    )
