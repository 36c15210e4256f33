"""Table profiling (ANALYZE-style column statistics).

Pipeline QA needs per-column health stats — null rates, cardinality,
value ranges — before and after every curation stage; the reference
has no equivalent (its `/stats` endpoint is a stub,
`duo/src/web/mod.rs:94-102`). One wide aggregate computes every
column's stats in a single pass over the data: Spark rewrites the
multi-distinct aggregate with an Expand (one stream per distinct
column) but still one scan, map-side partial aggregation, and one
shuffle of tiny partial states — at 100 TB the cost is the scan, as
it should be.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duo_spark.operators.materialize import checkpoint


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Long-form column profile: one row per column with
    (column, n_rows, n_nulls, n_distinct, min_value, max_value).

    ``n_distinct`` is EXACT (count_distinct — nulls excluded, SQL
    semantics); min/max are rendered as strings so mixed column types
    share one output schema (numeric columns keep numeric ordering —
    the cast to string happens after the aggregate).
    """
    cols = columns or df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile_table: unknown columns {missing}")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(cols):
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nulls{i}"),
            F.count_distinct(F.col(c)).alias(f"_nd{i}"),
            F.min(c).cast("string").alias(f"_min{i}"),
            F.max(c).cast("string").alias(f"_max{i}"),
        ]
    wide = df.agg(*aggs)
    # k is the column count: unpivot the single wide row with a stack
    parts = ", ".join(
        f"'{c}', _n, _nulls{i}, _nd{i}, _min{i}, _max{i}"
        for i, c in enumerate(cols)
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {parts}) as "
        "(column, n_rows, n_nulls, n_distinct, min_value, max_value)"
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-width histogram of ``value_col`` over [lo, hi) —
    optionally per group — as (group..., bin, bin_lo, bin_hi, n).

    The profiling companion to :func:`profile_table`: distribution
    shape per segment in ONE hash aggregate (bin index is a pure
    arithmetic Column, so binning happens map-side inside the scan and
    the shuffle carries nbins × groups tiny rows — at 100 TB the cost
    is the scan). Values below ``lo`` clamp into bin 0, values at or
    above ``hi`` into the last bin (total count always equals the
    non-null row count); empty bins are absent (a histogram over a
    sparse segment stays sparse — left outer join a bin spine if
    dense output is needed).
    """
    if nbins < 1 or not hi > lo:
        raise ValueError(f"need nbins >= 1 and hi > lo, got {nbins}, [{lo}, {hi})")
    width = (hi - lo) / nbins
    v = F.col(value_col)
    bin_ = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(nbins - 1),
    ).cast("int")
    keys = [F.col(c) for c in (group_cols or [])]
    return (
        df.filter(v.isNotNull())
        .groupBy(*keys, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *(group_cols or []),
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("bin_lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("bin_hi"),
            "n",
        )
    )


def population_stability(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    snapshot of ``value_col`` — THE production drift alarm (PSI < 0.1
    stable, 0.1-0.25 moderate shift, > 0.25 investigate): per group,
    ``PSI = Σ_bins (p_i - q_i) · ln(p_i / q_i)`` over the fixed-width
    bins of :func:`value_histogram`.

    Proportions are additively smoothed — ``p_i = (n_i + 0.5) /
    (N + nbins/2)`` — so empty bins contribute finitely and the
    result is deterministic (no epsilon clamps). Cost: two histogram
    aggregates (each one scan + one tiny shuffle) and a
    groups × nbins join — at 100 TB the cost is the two scans.

    Returns (group..., psi) with psi rounded to 6 places (absorbs the
    last-ulp ``ln`` difference across engines for the oracle).
    """
    keys = list(group_cols or [])
    h_ref = value_histogram(ref, value_col, lo, hi, nbins, keys).select(
        *keys, "bin", F.col("n").alias("_nr")
    )
    h_cur = value_histogram(cur, value_col, lo, hi, nbins, keys).select(
        *keys, "bin", F.col("n").alias("_nc")
    )
    joined = h_ref.join(h_cur, [*keys, "bin"], "full_outer").select(
        *keys, "bin",
        F.coalesce("_nr", F.lit(0)).alias("_nr"),
        F.coalesce("_nc", F.lit(0)).alias("_nc"),
    )
    tot = joined.groupBy(*keys).agg(
        F.sum("_nr").alias("_tr"), F.sum("_nc").alias("_tc")
    )
    half_bins = F.lit(nbins / 2.0)
    p = (F.col("_nr") + F.lit(0.5)) / (F.col("_tr") + half_bins)
    q = (F.col("_nc") + F.lit(0.5)) / (F.col("_tc") + half_bins)
    return (
        joined.join(tot, keys) if keys else joined.crossJoin(tot)
    ).groupBy(*keys).agg(
        F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi")
    )


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    buckets: int = 16,
) -> DataFrame:
    """Equi-depth (equal-height) histogram — the optimizer-statistics
    workhorse ANALYZE builds for selectivity estimation, and the
    binning a feature pipeline uses for rank-normalizing a skewed
    numeric column. Equi-WIDTH histograms (value_histogram) put 99%
    of a skewed column in one bin; equi-depth bins by RANK so every
    bucket holds the same row count and the boundaries trace the
    quantile function.

    Returns ``(bucket, n, lo, hi)`` — 1-based bucket, its row count,
    and its value range — with exact SQL NTILE semantics (the first
    ``count mod buckets`` buckets take the extra row; ``tie_col``
    must make (value, tie) a total order so the bucketing is
    deterministic).

    Scale shape: the global rank that NTILE needs is the textbook
    single-partition ``Window.orderBy`` scale-killer; this reuses
    sharding.ntile_by_key's two-level decomposition under a constant
    key — range-partition by (value, tie), per-chunk row_number plus
    O(chunks) driver offsets — so parallelism is the chunk count.
    The final rollup is one map-combined hash aggregate on bucket.
    """
    from duo_spark.operators.sharding import ntile_by_key

    tiled = ntile_by_key(
        df.select(value_col, tie_col).withColumn("_one", F.lit(0)),
        "_one",
        [F.col(value_col), F.col(tie_col)],
        tiles=buckets,
        out_col="bucket",
    )
    return (
        tiled.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
        )
    )


def column_mi(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information between two categorical columns — the
    dependence audit of pipeline QA: does a label leak a protected
    attribute, does a feature duplicate another, is a stratification
    key actually independent of the split? ``MI = Σ p(a,b) ·
    ln(p(a,b) / (p(a)·p(b)))`` plus the normalized variant
    ``NMI = MI / sqrt(H(a)·H(b))`` (0 = independent, 1 = bijective).

    Returns ONE row ``(n_rows, n_a, n_b, mi, nmi)`` (nats, 6 dp;
    ``nmi`` is 0 when either marginal entropy is 0 — a constant
    column carries no information to normalize by). NULL categories
    count as values (null-safe joins, same contract as k_anonymity /
    the round-10 t_closeness fix). All probabilities derive from
    exact integer counts and the log of a product is folded to a sum
    of logs (``ln c + ln n - ln c_a - ln c_b``), so nothing can
    overflow and an SQL oracle replays every term bit-for-bit.

    Scale: ONE shuffle builds the (a, b) joint count table, which is
    localCheckpointed — the marginals, totals, entropies, and the MI
    join all derive from that |A x B|-row table without re-running
    the data-table aggregate per branch (unchecked, Spark recomputes
    the corpus groupBy six times). Nothing after the first shuffle
    exceeds |A x B| rows.
    """
    j = checkpoint(
        df.groupBy(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    ma = j.groupBy(F.col("_a").alias("_am")).agg(F.sum("_c").alias("_ca"))
    mb = j.groupBy(F.col("_b").alias("_bm")).agg(F.sum("_c").alias("_cb"))
    tot = j.agg(F.sum("_c").alias("_n"))
    joined = (
        j.join(F.broadcast(ma), F.col("_a").eqNullSafe(F.col("_am")))
        .join(F.broadcast(mb), F.col("_b").eqNullSafe(F.col("_bm")))
        .crossJoin(F.broadcast(tot))
    )
    term = (F.col("_c").cast("double") / F.col("_n")) * (
        F.log(F.col("_c").cast("double"))
        + F.log(F.col("_n").cast("double"))
        - F.log(F.col("_ca").cast("double"))
        - F.log(F.col("_cb").cast("double"))
    )
    mi_row = joined.agg(F.sum(term).alias("_mi"))
    ha = ma.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            (F.col("_ca").cast("double") / F.col("_n"))
            * (F.log(F.col("_ca").cast("double")) - F.log(F.col("_n").cast("double")))
        )).alias("_ha"),
        F.count(F.lit(1)).alias("n_a"),
    )
    hb = mb.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            (F.col("_cb").cast("double") / F.col("_n"))
            * (F.log(F.col("_cb").cast("double")) - F.log(F.col("_n").cast("double")))
        )).alias("_hb"),
        F.count(F.lit(1)).alias("n_b"),
    )
    denom = F.sqrt(F.col("_ha") * F.col("_hb"))
    return (
        tot.crossJoin(mi_row)
        .crossJoin(ha)
        .crossJoin(hb)
        .select(
            F.col("_n").alias("n_rows"),
            "n_a",
            "n_b",
            F.round("_mi", 6).alias("mi"),
            F.round(
                F.when(denom > 0, F.col("_mi") / denom).otherwise(0.0), 6
            ).alias("nmi"),
        )
    )


def schema_diff(left: DataFrame, right: DataFrame) -> DataFrame:
    """Schema drift report between two table versions — the
    metadata-level companion to the hot∪cold union's drift tolerance
    (sources/store.py unionByName allowMissingColumns): which columns
    were added, removed, or changed type between yesterday's snapshot
    and today's? Pure driver-side metadata — ZERO jobs, no data read.

    Returns one row per differing column:
    ``(column, change, left_type, right_type)`` with ``change`` in
    ``added`` (right only), ``removed`` (left only), ``type_changed``.
    An empty result means the schemas agree (column order is NOT a
    difference — readers bind by name).
    """
    lt = {f.name: f.dataType.simpleString() for f in left.schema.fields}
    rt = {f.name: f.dataType.simpleString() for f in right.schema.fields}
    rows = []
    for name in sorted(lt.keys() | rt.keys()):
        in_l, in_r = name in lt, name in rt
        if in_l and not in_r:
            rows.append((name, "removed", lt[name], None))
        elif in_r and not in_l:
            rows.append((name, "added", None, rt[name]))
        elif lt[name] != rt[name]:
            rows.append((name, "type_changed", lt[name], rt[name]))
    return left.sparkSession.createDataFrame(
        rows,
        "column string, change string, left_type string, right_type string",
    )
