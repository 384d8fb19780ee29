"""Column profiling: the data-quality summary every ingest pipeline
runs before/after a load (null rates, cardinalities, value ranges).

One pass over the table: ALL per-column aggregates run in a single
global aggregation (map-side partial), then the 1-row wide result is
melted to one row per column driver-side — melting a 1×(4·n_cols) row
is free; the data-size work is the single scan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, min_v, max_v) per column.

    min/max are rendered as strings so mixed-type tables profile into
    one frame; n_distinct is exact (count_distinct — swap for
    approx_count_distinct at 100 TB if estimates suffice).
    """
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    # the 1-row wide aggregate is consumed once PER COLUMN by the
    # union legs below — lazy-materialize it so the full-table
    # profiling scan runs once, not |cols| times.
    wide = df.agg(*aggs).localCheckpoint(eager=False)
    parts = [
        wide.select(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            (F.col("__n") - F.col(f"__nn_{c}")).alias("n_nulls"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_v"),
            F.col(f"__max_{c}").alias("max_v"),
        )
        for c in cols
    ]
    return reduce(DataFrame.unionByName, parts)


def histogram_equiwidth(
    df: DataFrame,
    col: str,
    lo_cents: int,
    hi_cents: int,
    n_buckets: int,
    cents_col: bool = False,
) -> DataFrame:
    """Equi-width histogram of a money/measure column in EXACT integer
    arithmetic: the value is fixed to integer cents first, then
    bucketed with integer division — no float boundary can put the
    same row in different buckets on different engines (the classic
    ``floor((x-lo)/width)`` double formulation flips at representable
    boundaries).

    Returns (bucket, lo_cents, hi_cents, n_rows, min_cents, max_cents)
    for each non-empty bucket; values outside [lo, hi) clamp into the
    edge buckets (a histogram that silently drops out-of-range rows
    misreports the distribution). One map-side-partial aggregate on
    ``n_buckets`` keys — scan speed at any scale.
    """
    if n_buckets <= 0 or hi_cents <= lo_cents:
        raise ValueError(
            "histogram_equiwidth: need n_buckets > 0 and hi > lo"
        )
    width = (hi_cents - lo_cents + n_buckets - 1) // n_buckets
    cents = (
        F.col(col).cast("long")
        if cents_col
        else F.round(F.col(col) * 100).cast("long")
    )
    # `div` is true integral division on longs — no double rounding
    # at wide ranges, exactly DuckDB's integer `//`; the edge clamps
    # make trunc-vs-floor moot for below-range values
    bucket = F.least(
        F.greatest(
            F.expr(f"(_c - {lo_cents}) div {width}"),
            F.lit(0),
        ),
        F.lit(n_buckets - 1),
    )
    return (
        df.select(cents.alias("_c"))
        .select("_c", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("_c").alias("min_cents"),
            F.max("_c").alias("max_cents"),
        )
        .select(
            "bucket",
            (F.lit(lo_cents) + F.col("bucket") * width).alias("lo_cents"),
            (F.lit(lo_cents) + (F.col("bucket") + 1) * width).alias(
                "hi_cents"
            ),
            "n_rows",
            "min_cents",
            "max_cents",
        )
    )


def psi_by_key(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "source",
) -> DataFrame:
    """Population Stability Index between two snapshots of a corpus,
    per categorical bin — THE production drift gate for a training-
    data ingest (PSI > 0.2 on the source mix means the new batch is
    materially differently composed than the standing corpus, and a
    model trained on it will see a different distribution).

    Each side reduces to per-key counts first (one map-side-partial
    aggregate each — the only passes over data); the |keys|-sized
    count frames full-outer join and every downstream number derives
    from exact integer counts. Never-seen keys are handled by
    additive (+1) smoothing over the UNION key set — the textbook
    PSI is undefined at zero bins, and dropping them hides exactly
    the drift that matters most (a brand-new source appearing).

    Returns (key, n_old, n_new, p_old, p_new, psi) with shares and
    the per-bin PSI contribution ``(p_new − p_old)·ln(p_new/p_old)``
    rounded to 4 decimals (the cross-engine ratio rule — shares are
    IEEE quotients of exact integers, identical on any engine; ln
    may differ in the last ulp, absorbed by the rounding). The total
    PSI is the SUM of the contributions — left to the caller so no
    rounded-sum-vs-summed-rounding ambiguity enters the contract.
    """
    n_old = old.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_old"))
    n_new = new.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_new"))
    # |keys|-sized and consumed by BOTH the totals aggregate and the
    # output projection — lazy-materialize once so the two side scans
    # + full-outer join do not replay per consumer.
    both = (
        n_old.join(n_new, key_col, "full_outer")
        .select(
            F.col(key_col).alias("key"),
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .localCheckpoint(eager=False)
    )
    # 1-row totals (count of keys + grand totals) broadcast back —
    # the |keys|-sized frame never re-shuffles
    tot = both.agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum("n_old").alias("_to"),
        F.sum("n_new").alias("_tn"),
    )
    p_old = (F.col("n_old") + 1) / (F.col("_to") + F.col("_k"))
    p_new = (F.col("n_new") + 1) / (F.col("_tn") + F.col("_k"))
    return (
        both.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n_old",
            "n_new",
            F.round(p_old, 4).alias("p_old"),
            F.round(p_new, 4).alias("p_new"),
            F.round((p_new - p_old) * F.log(p_new / p_old), 4)
            .alias("psi"),
        )
    )


def expectations(
    df: DataFrame,
    rules: list[tuple[str, str]],
) -> DataFrame:
    """Declarative data-quality expectation suite (the Deequ /
    Great-Expectations pattern): each rule is ``(name, SQL boolean
    predicate over the table's columns)``; ALL rules evaluate in ONE
    aggregation over a single scan — a rule costs one conditional sum
    in the map-side partial, never an extra pass.

    A row where the predicate is NULL counts as a VIOLATION (unknown
    is not a pass — three-valued logic silently waves nulls through
    the naive ``sum(NOT pred)`` formulation, so the gate coalesces).

    Returns one row per rule: ``(rule, total BIGINT, violations
    BIGINT, ok BIGINT 0/1)``; melting the 1×(n_rules+1) aggregate
    row into rules is driver-free column arithmetic on a 1-row frame.
    Pair with :func:`uniqueness_check` and :func:`referential_check`
    for the multi-row / multi-table rule classes that a single-scan
    conditional sum cannot express.
    """
    if not rules:
        raise ValueError("expectations: need at least one rule")
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, (_name, pred) in enumerate(rules):
        aggs.append(
            F.sum(
                F.when(F.coalesce(F.expr(pred), F.lit(False)), 0)
                .otherwise(1)
            )
            .cast("long")
            .alias(f"__v{i}")
        )
    # the 1-row wide aggregate is consumed once PER RULE by the
    # union legs below — lazy-materialize it so the gated table is
    # scanned once, not |rules| times.
    wide = df.agg(*aggs).localCheckpoint(eager=False)
    parts = [
        wide.select(
            F.lit(name).alias("rule"),
            F.col("__total").alias("total"),
            F.col(f"__v{i}").alias("violations"),
            (F.col(f"__v{i}") == 0).cast("long").alias("ok"),
        )
        for i, (name, _pred) in enumerate(rules)
    ]
    return reduce(DataFrame.unionByName, parts)


def uniqueness_check(df: DataFrame, col: str, rule: str) -> DataFrame:
    """PRIMARY-KEY expectation in one aggregate: violations =
    ``count(*) − count_distinct(key)``, which counts (a) every row
    beyond the first per non-null key AND (b) every NULL-keyed row —
    deliberately, since ``count_distinct`` ignores NULLs: a key
    column holding NULLs is not a key, and a uniqueness gate that
    waves NULL keys through would pass a table that cannot be merged
    or joined on that column."""
    return df.agg(
        F.lit(rule).alias("rule"),
        F.count(F.lit(1)).alias("total"),
        (F.count(F.lit(1)) - F.count_distinct(F.col(col)))
        .cast("long")
        .alias("violations"),
    ).select(
        "rule",
        "total",
        "violations",
        (F.col("violations") == 0).cast("long").alias("ok"),
    )


def freshness_check(
    df: DataFrame,
    ts_us_col: str,
    as_of_us: int,
    max_lag_us: int,
    rule: str,
) -> DataFrame:
    """Data-freshness expectation — the "is the feed current?" rule
    class the per-row conditional sums can't express (it's a property
    of the table's MAX, not of any row): the newest event-time must be
    within ``max_lag_us`` of ``as_of_us``. One aggregate; reported in
    the suite's uniform shape with ``violations`` = the lag overshoot
    in microseconds (0 when fresh — a magnitude, not a row count,
    which keeps the overshoot visible instead of a bare boolean).
    An EMPTY table is maximally stale, not vacuously fresh — max() is
    NULL, coalesced to the full lag window plus overshoot sentinel.
    """
    lag = F.lit(as_of_us) - F.coalesce(
        F.max(F.col(ts_us_col)), F.lit(as_of_us - 2 * max_lag_us)
    )
    return df.agg(
        F.lit(rule).alias("rule"),
        F.count(F.lit(1)).alias("total"),
        F.greatest(lag - max_lag_us, F.lit(0))
        .cast("long")
        .alias("violations"),
    ).select(
        "rule",
        "total",
        "violations",
        (F.col("violations") == 0).cast("long").alias("ok"),
    )


def referential_check(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
    rule: str,
) -> DataFrame:
    """Foreign-key expectation: violations = child rows whose key has
    no parent — a LEFT OUTER join against the distinct parent keys
    with a match indicator, counted in ONE aggregate (Catalyst
    broadcasts the parent key set when small, shuffles a keyed join
    otherwise; only two counts cross back). r16: the previous
    anti-join + separate total formulation scanned the CHILD — the
    big table — twice; the indicator join counts total and orphans in
    one pass (a NULL child key never matches, so it counts as a
    violation exactly as the anti join kept it)."""
    pk = parent.select(F.col(parent_col).alias(child_col)).distinct()
    j = child.select(child_col).join(
        pk.withColumn("_matched", F.lit(1)), child_col, "left"
    )
    return j.agg(
        F.lit(rule).alias("rule"),
        F.count(F.lit(1)).alias("total"),
        F.sum(
            F.when(F.col("_matched").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("violations"),
    ).select(
        "rule",
        "total",
        "violations",
        (F.col("violations") == 0).cast("long").alias("ok"),
    )


def ks_statistic(
    old: DataFrame,
    new: DataFrame,
    value_col: str = "n_chars",
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between two
    snapshots of a numeric column — the numeric-drift twin of
    :func:`psi_by_key` (PSI needs bins; KS compares the full
    empirical CDFs and is the standard gate for "did the length /
    score distribution move?").

    Exact, not sampled: each side reduces to per-value counts (one
    map-side-partial aggregate each — the only passes over data),
    the count frames full-outer join on the value, and both CDFs are
    running integer sums over the merged value order. The KS gap per
    value is |cum_old/total_old − cum_new/total_new|; the statistic
    is its max, reported with the smallest value attaining it (ties
    broken deterministically).

    The running sum windows over the MERGED-VALUES frame — already
    aggregated, |distinct values| rows, so the unpartitioned window
    is a deliberate small-frame pattern (same rule as broadcast
    totals), not a data-sized single-partition sort.

    NULL values are excluded from both sides before counting — an
    empirical CDF is undefined at NULL, and engines disagree on where
    NULL sorts in a cumulative window (Spark NULLS FIRST, DuckDB
    NULLS LAST), so admitting them would silently skew the gap. A
    side with no non-NULL rows makes the statistic undefined
    (division by a zero total); that surfaces as an EMPTY result (0
    rows) rather than a NULL/Infinity that differs per engine —
    callers should treat "no rows" as "cannot compare".

    Returns one row: (ks, at_value, n_old, n_new) with ``ks``
    rounded to 4 decimals (ratio rule).
    """
    from pyspark.sql import Window

    c_old = (
        old.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("d_old"))
    )
    c_new = (
        new.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("d_new"))
    )
    # |distinct values|-sized and consumed by BOTH the cumulative
    # window and the totals aggregate — lazy-materialize once so the
    # two side scans + full-outer join do not replay per consumer.
    merged = (
        c_old.join(c_new, "v", "full_outer")
        .select(
            "v",
            F.coalesce("d_old", F.lit(0)).alias("d_old"),
            F.coalesce("d_new", F.lit(0)).alias("d_new"),
        )
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.select(
        "v",
        F.sum("d_old").over(w).alias("cum_old"),
        F.sum("d_new").over(w).alias("cum_new"),
    )
    # drop the 1-row totals frame entirely when either side is empty:
    # the CDF denominators would be 0 (NULL off-ANSI, a crash under
    # ANSI, Infinity in DuckDB — three different answers), so the
    # statistic is reported as zero rows instead
    tot = merged.agg(
        F.coalesce(F.sum("d_old"), F.lit(0)).alias("_to"),
        F.coalesce(F.sum("d_new"), F.lit(0)).alias("_tn"),
    ).where((F.col("_to") > 0) & (F.col("_tn") > 0))
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        F.abs(
            F.col("cum_old") / F.col("_to")
            - F.col("cum_new") / F.col("_tn")
        ).alias("gap"),
        "_to",
        "_tn",
    )
    return (
        gaps.orderBy(F.col("gap").desc(), "v")
        .limit(1)
        .select(
            F.round("gap", 4).alias("ks"),
            F.col("v").alias("at_value"),
            F.col("_to").alias("n_old"),
            F.col("_tn").alias("n_new"),
        )
    )
