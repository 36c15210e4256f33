"""Deterministic hash sampling for corpus curation.

`df.sample()` is nondeterministic across runs/partitionings, which is
wrong for training-data work: a sample must be reproducible (ablation
reruns, incremental re-curation) and *consistent* — re-running over a
grown corpus must keep previously-selected documents selected. The
standard fix is hash-based selection: a document is in the f-sample
iff h(id) mod M < f*M for a fixed hash h.

The hash here is multiplicative-modular over two primes — chosen over
xxhash64 deliberately: it is exactly reproducible in ANY SQL engine
(the DuckDB oracle runs the same arithmetic), overflow-free in int64
under Spark 4's ANSI mode ((id mod 1000003) * 2654435761 < 2^52), and
well-mixed enough for sampling (Knuth multiplicative hashing).

All pure Column arithmetic: a filter that pushes into the scan layer,
no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

_P1 = 1_000_003          # pre-mix modulus (keeps the product in 2^52)
_MULT = 2_654_435_761    # Knuth's 2^32 * golden-ratio multiplier
_M = 1_000_000_007       # selection-space modulus (prime)


def hash_bucket(id_col: Column | str, salt: int = 0) -> Column:
    """Deterministic bucket in [0, 1e9+7) from an integer id column."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    # salt is folded in BEFORE the multiply — an additive post-salt
    # would only rotate the bucket space and reselect ~salt/M of rows
    pre = F.pmod(c.cast("long"), F.lit(_P1)) + F.lit(int(salt) % _P1)
    return F.pmod(pre * F.lit(_MULT), F.lit(_M))


def hash_sample(
    df: DataFrame, fraction: float, id_col: str = "doc_id", salt: int = 0
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows by id hash.

    Selection is monotone in ``fraction``: the 1% sample is a subset
    of the 10% sample (same salt) — the property incremental curation
    relies on.
    """
    return df.filter(hash_bucket(id_col, salt) < F.lit(int(fraction * _M)))


def stratified_hash_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: int = 0,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. rebalance languages).

    ``fractions`` maps stratum value -> keep fraction; strata not
    listed keep ``default_fraction``. The threshold lookup is a map
    literal (broadcast-free, pure projection) — at 100 TB this is a
    scan-side filter exactly like ``hash_sample``.
    """
    entries = [
        x
        for val, frac in sorted(fractions.items())
        for x in (F.lit(val), F.lit(int(frac * _M)))
    ]
    thresholds = F.create_map(*entries) if entries else None
    default = F.lit(int(default_fraction * _M))
    thr = (
        F.coalesce(thresholds[F.col(strata_col)], default)
        if thresholds is not None
        else default
    )
    return df.filter(hash_bucket(id_col, salt) < thr)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (k rows,
    inclusion odds proportional to ``weight_col``) — Efraimidis &
    Spirakis (2006) A-Res reservoir keys, derandomized: the uniform
    draw is an md5-derived 60-bit hash of (id, salt), so the sample is
    reproducible, salt-switchable, and oracle-replayable (the same
    md5/ln arithmetic runs in any SQL engine).

        u_i   = (md5_60(id:salt) + 1) / (2^60 + 1)   in (0, 1]
        key_i = -ln(u_i) / w_i        (exponential with rate w_i)
        keep the k SMALLEST keys      (= k largest u^(1/w))

    Scale: pure scan-side arithmetic plus one TakeOrderedAndProject —
    per-partition k-row heaps, no shuffle of the data itself, no
    driver state. Rows with weight <= 0 or null are excluded (their
    exponential never fires), and so are null ids — a null id would
    hash to a null key, which Spark's ascending sort would otherwise
    place FIRST (nulls-first default) and silently crowd the sample.
    """
    idc = F.col(id_col)
    w = F.col(weight_col).cast("double")
    h = F.conv(
        F.substring(
            F.md5(F.concat(idc.cast("string"), F.lit(f":{int(salt)}"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float((1 << 60) + 1))
    key = -F.log(u) / w
    return (
        df.filter(w > 0)
        .filter(idc.isNotNull())
        .withColumn("_key", key)
        .orderBy(F.asc("_key"), F.asc(id_col))
        .limit(k)
    )


def sample_per_key(
    df: DataFrame,
    key: str,
    n: int,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic fixed-size sample: exactly min(n, group size) rows
    per ``key`` group, selected by hash rank — the distributed stand-in
    for per-key reservoir sampling.

    A true reservoir is stream-order-dependent (irreproducible under
    Spark's nondeterministic row order); ranking by :func:`hash_bucket`
    of the id gives the same statistical effect (each group's rows get
    pseudo-random priorities) while being exactly reproducible across
    runs, partitionings, and engines. Consistency under corpus growth:
    a row is evicted only when n new rows hash below it, never by
    reordering.

    Two-phase top-n (the cosine_topk_many pattern): phase 1 keeps each
    SCAN partition's n best rows per key via a (partition, key) window
    — no shuffle, every core busy regardless of key count; phase 2
    ranks only the surviving ≤ n × partitions rows per key. A single
    hot key never serializes the full corpus through one task — only
    its bounded survivor set. Adds ``sample_rank`` (1-based hash rank
    within the group).
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    order = [hash_bucket(id_col, salt), F.col(id_col)]
    local = Window.partitionBy(F.spark_partition_id(), key).orderBy(*order)
    survivors = (
        df.withColumn("_lr", F.row_number().over(local))
        .filter(F.col("_lr") <= n)
        .drop("_lr")
    )
    w = Window.partitionBy(key).orderBy(*order)
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n)
    )


def leakage_safe_split(
    labels: DataFrame,
    train_fraction: float = 0.8,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic train/holdout split that hashes the DUPLICATE
    CLUSTER, not the document: near-duplicate documents always land in
    the same split, so a held-out eval set can never be contaminated
    by a training-set near-copy of itself (the standard leakage mode
    of doc-level random splits — see also operators/decontam.py for
    splitting against an EXTERNAL benchmark).

    Input is a (id, cluster) labeling, e.g. ``near_dup_clusters``
    output. Same multiplicative hash as :func:`hash_bucket`: pure
    scan-side Column arithmetic, reproducible in any engine, monotone
    in ``train_fraction``.

    Output: (id_col, cluster_col, split) with split in
    {'train', 'holdout'}.
    """
    b = hash_bucket(F.col(cluster_col), salt)
    return labels.select(
        id_col,
        cluster_col,
        F.when(b < F.lit(int(train_fraction * _M)), "train")
        .otherwise("holdout")
        .alias("split"),
    )


def temperature_rates(
    df: DataFrame,
    strata_col: str = "source",
    alpha: float = 0.5,
    target_rows: int | None = None,
) -> DataFrame:
    """Temperature-based mixture re-weighting (the multilingual /
    multi-source sampling rule: q_s ∝ p_s^α): per stratum, its share
    p, its temperature-flattened target share q, and the per-document
    keep rate that realizes a ``target_rows`` corpus (capped at 1 —
    upsampling is a repeat policy, not a filter's job).

    One aggregate + one broadcastable 1-row total join; α<1 flattens
    toward uniform (upweights tail strata), α=1 keeps natural
    proportions.

    Output: (stratum, n, p, q, keep_rate), p/q/keep_rate rounded to 9.
    """
    j = _temperature_raw(df, strata_col, alpha, target_rows)
    return j.select(
        "stratum",
        F.col("_n").cast("long").alias("n"),
        F.round(F.col("_p"), 9).alias("p"),
        F.round(F.col("_q"), 9).alias("q"),
        F.round(F.col("_kr"), 9).alias("keep_rate"),
    )


def _temperature_raw(
    df: DataFrame, strata_col: str, alpha: float, target_rows: int | None
) -> DataFrame:
    """Unrounded per-stratum mixture math — shared so the sampler's
    threshold and the reported rates come from the SAME doubles (a
    rounded rate would move the integer hash threshold by up to half a
    bucket and flip boundary documents)."""
    per = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    tot = per.agg(
        F.sum("_n").alias("_tot"), F.sum(F.pow("_n", float(alpha))).alias("_z")
    )
    j = per.crossJoin(F.broadcast(tot))
    q = F.pow("_n", float(alpha)) / F.col("_z")
    tgt = F.lit(float(target_rows)) if target_rows is not None else F.col("_tot")
    return j.select(
        "stratum",
        "_n",
        (F.col("_n") / F.col("_tot")).alias("_p"),
        q.alias("_q"),
        F.least(tgt * q / F.col("_n"), F.lit(1.0)).alias("_kr"),
    )


def temperature_sample(
    df: DataFrame,
    strata_col: str = "source",
    alpha: float = 0.5,
    target_rows: int | None = None,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministically materialize the temperature mixture: each
    document kept iff its hash bucket falls under its stratum's keep
    rate — reproducible, monotone in ``target_rows``, and a scan-side
    filter after one broadcast join of the tiny per-stratum rate
    table."""
    rates = _temperature_raw(df, strata_col, alpha, target_rows).select(
        F.col("stratum").alias(strata_col), F.col("_kr")
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(hash_bucket(id_col, salt) < (F.col("_kr") * _M).cast("long"))
        .drop("_kr")
    )


def epoch_allocation(
    df: DataFrame,
    strata_col: str = "source",
    token_col: str | None = None,
    *,
    budget: float,
    max_epochs: float = 4.0,
    alpha: float = 0.5,
) -> DataFrame:
    """Data-constrained training-mixture plan (Muennighoff et al.
    2023, "Scaling Data-Constrained Language Models"): split a token
    ``budget`` across sources proportionally to temperature-flattened
    weights ``w_s ∝ n_s^alpha`` (the q_s ∝ p_s^α rule
    :func:`temperature_rates` uses), but cap every source at
    ``max_epochs`` passes over its ``n_s`` unique tokens — the paper's
    ~4-epoch point where repeating data stops buying loss — and
    water-fill the surplus into the uncapped sources.

    Water-filling closed form, no iteration: allocation is
    ``min(λ·w_s, max_epochs·n_s)`` with λ chosen so the total hits the
    budget. Sorting sources by ``cap_s / w_s`` ascending makes the
    capped set a PREFIX of the order, so λ falls out of prefix sums:
    at the first rank where ``(budget − Σ_prefix cap) / Σ_suffix w ≤
    cap/w``, every earlier source is capped and λ is that quotient.
    If the budget exceeds Σ cap, every source caps and the plan
    reports the shortfall implicitly (Σ alloc < budget).

    One aggregate to |sources| rows, then window math over that tiny
    frame in one explicit partition (bounded by the source
    cardinality, not the corpus, so fine at any data scale).
    ``token_col`` None counts documents instead of summing tokens.

    Output per source: ``(stratum, n_tokens, cap, alloc, epochs)``,
    floats rounded to 6.
    """
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    tok = (
        F.sum(F.col(token_col)) if token_col is not None
        else F.count(F.lit(1))
    )
    # `_one` (0 on every row) is the windows' partition key: the frame
    # holds one row per source, so a single partition is the bound, and
    # an aggregate column, unlike a literal, is not optimized away
    per = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        tok.cast("double").alias("_n"), F.min(F.lit(0)).alias("_one")
    )
    per = per.select(
        "stratum",
        "_n",
        "_one",
        F.pow("_n", float(alpha)).alias("_w"),
        (F.col("_n") * F.lit(float(max_epochs))).alias("_cap"),
    )
    order = Window.partitionBy("_one").orderBy(
        F.col("_cap") / F.col("_w"), F.col("stratum")
    )
    suffix = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ranked = per.select(
        "stratum", "_n", "_one", "_w", "_cap",
        (F.sum("_cap").over(order) - F.col("_cap")).alias("_cap_before"),
        # explicit suffix frame: both engines then sum the SAME terms
        # in the SAME order, so the float quotient replays bit-exactly
        F.sum("_w").over(suffix).alias("_w_from_here"),
    )
    lam_here = (F.lit(float(budget)) - F.col("_cap_before")) / F.col("_w_from_here")
    uncapped = lam_here <= F.col("_cap") / F.col("_w")
    # λ* = the FIRST (smallest-ratio) uncapped row's quotient — later
    # uncapped rows' quotients subtract caps the boundary row never
    # granted, so they undershoot; the capped set being a prefix makes
    # the first one exact (and guarantees λ*·w ≤ cap for all rows
    # after it, so the `least` below is a no-op safety net)
    everything = order.rowsBetween(Window.unboundedPreceding,
                                   Window.unboundedFollowing)
    lam_star = F.first(F.when(uncapped, lam_here), ignorenulls=True).over(
        everything
    )
    alloc = F.when(
        uncapped, F.least(lam_star * F.col("_w"), F.col("_cap"))
    ).otherwise(F.col("_cap"))
    return ranked.select(
        "stratum",
        F.col("_n").cast("long").alias("n_tokens"),
        F.col("_cap").cast("long").alias("cap"),
        F.round(alloc, 6).alias("alloc"),
        F.round(alloc / F.col("_n"), 6).alias("epochs"),
    )


def epoch_repeats(
    df: DataFrame,
    strata_col: str = "source",
    token_col: str | None = None,
    *,
    budget: float,
    max_epochs: float = 4.0,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Materialize :func:`epoch_allocation` into per-document repeat
    counts — the step that turns the mixture PLAN into a training
    manifest: every document repeats ``floor(epochs_s)`` times, plus
    one more with probability ``frac(epochs_s)`` (stochastic rounding
    on an md5 uniform keyed by document id), so each source's
    expected token total matches its allocation exactly while no
    document repeats more than ⌈max_epochs⌉ times.

    The uniforms are md5-derived from (id, seed) — replay/test mode,
    same contract as validate.dp_noisy_counts; draw ``seed`` fresh in
    production. One broadcast join of the |sources|-row plan onto the
    corpus; no shuffle of the corpus itself.

    Returns ``(id_col, strata_col, epochs, repeats)``.
    """
    from duo_spark.operators.util import md5_uniform

    plan = epoch_allocation(
        df, strata_col, token_col,
        budget=budget, max_epochs=max_epochs, alpha=alpha,
    ).select(F.col("stratum").alias("_stratum"), "epochs")
    u = md5_uniform(id_col, seed, "repeat")
    base = F.floor(F.col("epochs")).cast("long")
    frac = F.col("epochs") - F.floor(F.col("epochs"))
    repeats = base + F.when(u < frac, F.lit(1)).otherwise(F.lit(0))
    # null-safe stratum join: epoch_allocation's groupBy keeps a NULL
    # stratum and budgets it — a plain equi-join would silently drop
    # those documents and undershoot the plan
    return df.select(F.col(id_col), F.col(strata_col)).join(
        F.broadcast(plan),
        F.col(strata_col).eqNullSafe(F.col("_stratum")),
    ).select(id_col, strata_col, "epochs", repeats.alias("repeats"))
