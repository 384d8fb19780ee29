"""Event-stream operators: tumbling / sliding / session windows,
as-of (most-recent-prior) joins, per-user sequence analytics, pivot.

Batch-first with streaming-compatible shapes: every aggregation here
is keyed by (window, entity) exactly as the Structured Streaming
equivalents in ``geniepool_etl_spark.streaming`` — the same logical
plan works under ``readStream`` with a watermark.

Scale design: all aggregations shuffle once on fine-grained composite
keys (window × user), window functions partition by ``user_id`` (high
cardinality — no single-partition sorts), and event-time arithmetic is
integer epoch-micros. Normalization from whatever the parquet writer
produced (nanos-long, TIMESTAMP, or TIMESTAMP_NTZ) is dtype-adaptive
in ONE place — ``functions.event_micros`` — so integer math stays
timezone-proof and engine-portable for oracles on every branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geniepool_etl_spark.functions import event_micros

US_PER_SEC = 1_000_000
US_PER_MIN = 60 * US_PER_SEC
US_PER_HOUR = 60 * US_PER_MIN


def with_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the raw ``ts`` — nanos-long, TIMESTAMP, or
    TIMESTAMP_NTZ, branching on the column's actual dtype — into
    ``ts_us`` (epoch micros, exact integer) and ``event_time``
    (TimestampType, for the native window()/session_window()
    operators)."""
    return df.withColumn("ts_us", event_micros(df, ts_col)).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )


def tumbling_agg(
    df: DataFrame,
    width_us: int = US_PER_HOUR,
    type_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts/sums per (window, event_type) using the
    native ``F.window`` operator; the window start is emitted as epoch
    micros (``unix_micros`` ∘ ``window().start`` — absolute arithmetic,
    identical to integer bucketing in any engine).
    """
    e = with_event_time(df)
    win = F.window(F.col("event_time"), f"{width_us} microseconds")
    return (
        e.groupBy(win.alias("w"), F.col(type_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            type_col,
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    df: DataFrame,
    width_us: int = US_PER_HOUR,
    slide_us: int = 30 * US_PER_MIN,
) -> DataFrame:
    """Sliding-window event counts: each event lands in
    ``width/slide`` overlapping windows (native ``F.window`` with a
    slide duration)."""
    e = with_event_time(df)
    win = F.window(
        F.col("event_time"),
        f"{width_us} microseconds",
        f"{slide_us} microseconds",
    )
    return (
        e.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "n_events",
            "n_users",
        )
    )


def session_agg(
    df: DataFrame,
    gap_us: int = 30 * US_PER_MIN,
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based session windows per user via the native
    ``F.session_window`` (an event extends the current session when its
    gap since the previous event is ≤ ``gap_us`` — the boundary is
    INCLUSIVE, verified empirically; a strictly larger gap starts a new
    session). Emits session start (epoch
    micros), event count, and max value per session — all
    order-independent aggregates, deterministic under any merge order.
    """
    e = with_event_time(df)
    sess = F.session_window(F.col("event_time"), f"{gap_us} microseconds")
    return (
        e.groupBy(sess.alias("s"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .select(
            key_col,
            F.unix_micros(F.col("s.start")).alias("session_start_us"),
            "n_events",
            "max_value",
        )
    )


def with_prev_event(df: DataFrame) -> DataFrame:
    """Per-user sequence features: previous event type and gap (µs)
    since the previous event, via ``lag`` over a (user_id) partition
    ordered by (ts_us, event_id) — the tiebreak makes it fully
    deterministic. High-cardinality partition key: scales linearly.
    """
    e = with_event_time(df)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return e.withColumn("prev_type", F.lag("event_type").over(w)).withColumn(
        "gap_us", F.col("ts_us") - F.lag("ts_us").over(w)
    )


def asof_join_latest_prior(
    left: DataFrame,
    right: DataFrame,
    left_ts: str = "ts_us",
    right_ts: str = "ts_us",
    key: str = "user_id",
    tolerance_us: int | None = None,
) -> DataFrame:
    """As-of join: for every left event, the most recent right event at
    or before it (per key). Implemented as union + window (the
    streaming-safe formulation): tag sides, sort-merge within the key
    partition once, carry the last-seen right row forward. One shuffle
    on the (high-cardinality) key — never a range cross-join.

    ``tolerance_us`` bounds staleness (pandas ``merge_asof``
    semantics): a carried match older than the tolerance nulls out
    instead of matching — a narrow post-filter, same plan shape.

    Right columns are exposed as ``asof_ts_us`` / ``asof_event_id``.
    """
    l_tag = left.select(
        F.col(key), F.col(left_ts).alias("_t"), F.lit(1).alias("_side"),
        F.col("event_id"),
    )
    r_tag = right.select(
        F.col(key), F.col(right_ts).alias("_t"), F.lit(0).alias("_side"),
        F.col("event_id"),
    )
    unioned = l_tag.unionByName(r_tag)
    # right rows (side=0) sort before left rows at the same timestamp,
    # so "at or before" includes ties.
    w = (
        Window.partitionBy(key)
        .orderBy("_t", "_side", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn(
        "asof_ts_us",
        F.last(F.when(F.col("_side") == 0, F.col("_t")), ignorenulls=True).over(w),
    ).withColumn(
        "asof_event_id",
        F.last(
            F.when(F.col("_side") == 0, F.col("event_id")), ignorenulls=True
        ).over(w),
    )
    out = (
        carried.where(F.col("_side") == 1)
        .select(
            key,
            F.col("_t").alias(left_ts),
            "event_id",
            "asof_ts_us",
            "asof_event_id",
        )
    )
    if tolerance_us is not None:
        within = (
            F.col(left_ts) - F.col("asof_ts_us") <= F.lit(tolerance_us)
        )
        out = out.select(
            key,
            left_ts,
            "event_id",
            F.when(within, F.col("asof_ts_us")).alias("asof_ts_us"),
            F.when(within, F.col("asof_event_id")).alias("asof_event_id"),
        )
    return out


def with_anomaly_flags(
    df: DataFrame,
    window_n: int = 20,
    min_prior: int = 5,
    z_thresh: int = 3,
) -> DataFrame:
    """Rolling anomaly gate: flag an event whose value deviates more
    than ``z_thresh`` sample standard deviations from the mean of the
    user's preceding ``window_n`` events (the event itself excluded —
    an outlier must not mask itself).

    The test is evaluated in EXACT INTEGER arithmetic on value cents:
    with windowed sums ``s1 = Σc``, ``s2 = Σc²`` over ``n`` priors,

        z² > t²  ⇔  (c·n − s1)²·(n−1) > t²·n·(n·s2 − s1²)

    — no float mean/stddev ever materializes, so the boolean is
    bit-identical on any engine and any merge order (a rounded
    rolling stddev flips at representation boundaries; an integer
    inequality cannot). Magnitudes stay well inside BIGINT
    (cents² · window ≲ 1e12). Zero-variance windows flag any
    deviation (RHS = 0 ⇔ all priors equal).

    One window over (user_id ordered by time, id tiebreak) — same
    shuffle as any per-user sequence feature; high-cardinality key.
    """
    e = with_event_time(df)
    c = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-window_n, -1)
    )
    base = e.select(
        "user_id",
        "event_id",
        c.alias("c"),
        F.count(F.lit(1)).over(w).alias("n_prior"),
        F.sum(c).over(w).alias("s1"),
        F.sum(c * c).over(w).alias("s2"),
    )
    n, s1, s2, cc = (
        F.col("n_prior"), F.col("s1"), F.col("s2"), F.col("c"),
    )
    dev = cc * n - s1
    lhs = dev * dev * (n - 1)
    rhs = F.lit(z_thresh * z_thresh) * n * (n * s2 - s1 * s1)
    return base.select(
        "user_id",
        "event_id",
        n.alias("n_prior"),
        F.when(n >= min_prior, lhs > rhs).alias("is_anomaly"),
    )


def auto_interval_bucket_us(left: DataFrame, right: DataFrame) -> int:
    """Bucket width sized to the interval-length distribution, the
    way LSH planes auto-size to the corpus (similarity.auto_n_planes):
    the p95 span, so ~95% of intervals explode to ≤2 buckets, floored
    so the single LONGEST interval replicates across at most 256
    buckets (one giant interval exploded across every bucket of a
    fine grid is the skew trap — its copies meet every other row in
    the join). When the floor engages, the skew is real and worth a
    warning: a p95-width bucket would have been quadratic-safe for
    everyone else, and widening it for one straggler coarsens the
    join for all rows (consider splitting or filtering the long
    intervals upstream).

    One eager quantile job over both frames' spans (approxQuantile,
    1% relative error — the bucket choice affects only the plan,
    never the result set). Callers that know their span distribution
    pass an explicit ``bucket_us`` and no job fires."""
    import warnings

    spans = left.select(
        (F.col("end_us") - F.col("start_us")).alias("_s")
    ).unionByName(
        right.select((F.col("end_us") - F.col("start_us")).alias("_s"))
    )
    qs = spans.stat.approxQuantile("_s", [0.95, 1.0], 0.01)
    if not qs:
        return US_PER_HOUR  # both frames empty: any width works
    p95, longest = (max(int(q), 0) for q in qs)
    bucket = max(p95, longest // 256, 1)
    if bucket > max(p95, 1):
        warnings.warn(
            f"interval_overlap_join: longest interval ({longest} us) "
            f"is {longest // max(p95, 1)}x the p95 span ({p95} us); "
            f"bucket width floored to {bucket} us so it replicates "
            "across <=256 buckets — long-interval skew like this "
            "coarsens the join for every row; consider splitting or "
            "filtering the stragglers upstream",
            stacklevel=3,
        )
    return bucket


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    bucket_us: int | None = None,
    l_prefix: str = "l_",
    r_prefix: str = "r_",
) -> DataFrame:
    """Interval-overlap (range) join: every (left, right) pair sharing
    ``key`` whose ``[start_us, end_us]`` intervals overlap
    (``l.start <= r.end AND r.start <= l.end`` — closed intervals).

    Spark has no native band/interval join, and the naive formulation
    (equi-join on key + two range predicates) evaluates the range
    residual AFTER materializing every same-key pair — quadratic in
    per-key interval count. This implementation is the bucketed
    range-join rewrite (the same strategy engines with native range
    joins apply): explode each interval to the coarse time buckets of
    width ``bucket_us`` it touches, equi-join on (key, bucket), then
    refine with the exact overlap predicate.

    Duplicate elimination is FREE — no distinct shuffle: an
    overlapping pair co-occurs in every shared bucket, so the refine
    keeps only the canonical bucket, the one containing
    ``max(l.start, r.start)`` (the overlap's left edge, which both
    sides are guaranteed to have exploded). Each surviving pair is
    emitted exactly once.

    Inputs need columns (key, id_col, start_us, end_us) where ids are
    carried via ``{l,r}_prefix``. Scale: shuffle keys are
    (key × bucket) — fine-grained; per-interval explode factor is
    ``⌈span/bucket_us⌉+1``, so ``bucket_us`` should sit near the
    typical interval span (explode ≈2×). ``bucket_us=None`` (the
    default) derives it from the span distribution
    (:func:`auto_interval_bucket_us` — p95 span, straggler
    replication floored at 256 buckets, skew warning); the bucket
    choice affects only the plan, never the result set.
    """
    if bucket_us is None:
        bucket_us = auto_interval_bucket_us(left, right)

    def _bucketed(df: DataFrame, prefix: str) -> DataFrame:
        b0 = F.floor(F.col("start_us") / bucket_us).cast("long")
        b1 = F.floor(F.col("end_us") / bucket_us).cast("long")
        return df.select(
            F.col(key),
            F.explode(F.sequence(b0, b1)).alias("_bucket"),
            *[
                F.col(c).alias(f"{prefix}{c}")
                for c in df.columns
                if c != key
            ],
        )

    lb = _bucketed(left, l_prefix)
    rb = _bucketed(right, r_prefix)
    ls, le = F.col(f"{l_prefix}start_us"), F.col(f"{l_prefix}end_us")
    rs, re_ = F.col(f"{r_prefix}start_us"), F.col(f"{r_prefix}end_us")
    overlap = (ls <= re_) & (rs <= le)
    canonical = F.col("_bucket") == F.floor(
        F.greatest(ls, rs) / bucket_us
    ).cast("long")
    return (
        lb.join(rb, [key, "_bucket"])
        .where(overlap & canonical)
        .drop("_bucket")
    )


def transition_counts(df: DataFrame) -> DataFrame:
    """First-order Markov transition statistics over per-user event
    sequences: for every ordered (prev_type → next_type) pair, the
    transition count and its row-normalized probability — the
    sequence-mining summary behind next-action prediction and
    anomalous-flow detection.

    Plan: one window shuffle on the high-cardinality ``user_id`` (via
    :func:`with_prev_event`), one (prev, next) aggregate — both
    map-side partial. Row normalization deliberately does NOT use a
    window partitioned by ``prev_type``: with a handful of event
    types that partition is maximally skewed (each type's whole count
    mass on one task). Instead the per-prev totals — one row per type
    — come from a second tiny aggregate and broadcast back. At 100 TB
    the heavy data moves once.
    """
    seq = with_prev_event(df).where(F.col("prev_type").isNotNull())
    # |type × type|-sized and consumed by BOTH the totals aggregate
    # and the output join — lazy-materialize once so the window pass
    # over the events feed does not replay per consumer.
    counts = (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("prev_type").agg(F.sum("n").alias("_total"))
    return (
        counts.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("_total"), 4
            ).alias("p"),
        )
    )


def attribute_last_touch(
    df: DataFrame,
    conversion_type: str = "purchase",
    within_us: int | None = None,
) -> DataFrame:
    """Last-touch attribution: credit each conversion event's value to
    the user's most recent PRIOR non-conversion event type (the
    "channel"), then report attributed conversions and value per
    channel — the marketing-analytics rollup over a clickstream.

    Carried-touch formulation (the as-of-join trick specialized to one
    frame): a single window over (user, time) carries the last
    non-conversion type and its timestamp forward with
    ``last(..., ignorenulls=True)``; conversions read the carried
    values — one shuffle on the high-cardinality user key, no
    self-join. ``within_us`` bounds attribution staleness (a touch
    older than the window credits 'direct', as does no prior touch at
    all). Ties at the same timestamp resolve by ``event_id`` order.
    """
    e = with_event_time(df)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type") != conversion_type
    carried = e.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        "ts_us",
        F.last(
            F.when(is_touch, F.col("event_type")), ignorenulls=True
        ).over(w).alias("_touch"),
        F.last(
            F.when(is_touch, F.col("ts_us")), ignorenulls=True
        ).over(w).alias("_touch_us"),
    )
    conv = carried.where(F.col("event_type") == conversion_type)
    fresh = F.col("_touch").isNotNull()
    if within_us is not None:
        fresh = fresh & (
            F.col("ts_us") - F.col("_touch_us") <= F.lit(within_us)
        )
    channel = F.when(fresh, F.col("_touch")).otherwise(F.lit("direct"))
    return (
        conv.select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
    )


def debounce(df: DataFrame, window_us: int = 5 * US_PER_MIN) -> DataFrame:
    """Burst suppression: keep ONE event per burst-chain — an event
    survives iff it starts a gap-session, i.e. the same (user, type)
    had no event within the preceding ``window_us``. Retry storms,
    double-clicks, and at-least-once replays collapse to their first
    occurrence; chained bursts (each gap ≤ window) collapse entirely
    into the chain's head, which is exactly gap-sessionization with
    first-of-session projection.

    One lag-window per (user, type) — the session-start test needs
    only the previous RAW event's timestamp, so this stays a single
    windowed pass (no iterative "distance to last kept" state).
    Deterministic: same-timestamp ties break on event_id.
    """
    e = with_event_time(df)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    return (
        e.withColumn("_gap", gap)
        .where(F.col("_gap").isNull() | (F.col("_gap") > window_us))
        .select("user_id", "event_id", "ts_us", "event_type")
    )


def dwell_times(df: DataFrame) -> DataFrame:
    """Time-in-state analytics: treating each user's event stream as a
    state machine (the event's type is the state until the next
    event), the total dwell time and interval count per state — the
    "where do users actually spend time" rollup.

    One window on the high-cardinality user key (``lead`` for the
    next-event timestamp; each user's last, still-open state is
    excluded — an unbounded interval has no duration), then one
    per-type aggregate. Both map-side partial.
    """
    e = with_event_time(df)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    spans = e.select(
        "event_type",
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("_dwell_us"),
    ).where(F.col("_dwell_us").isNotNull())
    return spans.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("_dwell_us").alias("total_dwell_us"),
    ).withColumn(
        # integer division, not `/`: the mean stays an exact integer
        # µs on every engine (dwells are positive, so trunc == floor)
        "avg_dwell_us",
        F.expr("total_dwell_us div n_intervals"),
    )


def user_feature_table(
    df: DataFrame,
    session_gap_us: int = 30 * US_PER_MIN,
    debounce_us: int = US_PER_HOUR,
) -> DataFrame:
    """FUSED per-user feature-store build: activity aggregates,
    session count, and debounced-interaction count in ONE scan and
    ONE shuffle — the single-pass form of composing
    ``session_agg``/``debounce`` and joining (which costs three
    scans and five hash exchanges for the same answer; measured on
    the contract entry's plan before the fusion).

    Two observations do the work. (1) Both derived features are
    per-row FLAGS under a window: a session COUNT is the count of
    session *starts* (gap > session_gap over the user window — the
    same boundary rule as ``session_window``), and a debounced count
    is the count of chain *heads* (gap > debounce_us over the
    (user, type) window); flags fold into the one per-user
    aggregate. (2) ``hashpartitioning(user_id)`` co-locates every
    (user_id, event_type) group too, so Catalyst satisfies BOTH
    windows and the final aggregate from a SINGLE exchange — the
    plan is scan → exchange(user_id) → sort/window ×2 → partial-free
    final agg, plan-pinned in tests/test_plans.py.
    """
    e = with_event_time(df)
    w_u = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_ut = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    gap_u = F.col("ts_us") - F.lag("ts_us").over(w_u)
    gap_ut = F.col("ts_us") - F.lag("ts_us").over(w_ut)
    flagged = e.select(
        "user_id",
        "event_type",
        "value",
        (gap_u.isNull() | (gap_u > session_gap_us))
        .cast("long")
        .alias("_new_session"),
        (gap_ut.isNull() | (gap_ut > debounce_us))
        .cast("long")
        .alias("_chain_head"),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.sum("_new_session").alias("n_sessions"),
        F.sum("_chain_head").alias("n_debounced"),
    )


def pivot_type_counts(df: DataFrame, types: list[str]) -> DataFrame:
    """Per-user event-type count matrix via ``pivot`` with an explicit
    value list (skips the extra distinct-values job — at scale the
    domain must be declared, not discovered)."""
    return (
        df.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def json_props(df: DataFrame, field: str = "k") -> DataFrame:
    """Extract a typed field from the JSON ``props`` payload
    (``get_json_object`` — JVM-side JSON path)."""
    return df.withColumn(
        f"prop_{field}",
        F.get_json_object(F.col("props"), f"$.{field}").cast("long"),
    )


def funnel_stages(
    df: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    within_us: int | None = None,
) -> DataFrame:
    """Ordered funnel progression per user: a user reaches stage k iff
    they performed ``stages[k]`` AT OR AFTER their earliest completion
    of stage k-1 (and within ``within_us`` of it, when set — the
    conversion-window variant). Returns (user, stage) with stage ∈
    [0, len(stages)] (0 = none of the funnel events).

    Plan: one filtered min-aggregate + keyed join per stage — each
    stage's frame shrinks monotonically (only users who reached k-1
    join stage k's events), so the work narrows down the funnel. All
    joins are on the user key; at 100 TB the per-stage aggregates are
    map-side partial and AQE broadcasts the shrinking stage frames.
    Expects a ``ts_us`` column (see :func:`with_event_time`).
    """
    users = df.select(F.col(user_col).alias("user")).distinct()
    reached = None  # (user, _t_prev) for the last completed stage
    stage_frames = []
    for i, ev_type in enumerate(stages):
        ev = df.where(F.col("event_type") == ev_type).select(
            F.col(user_col).alias("user"), F.col("ts_us").alias("_ts")
        )
        if reached is not None:
            cond = F.col("_ts") >= F.col("_t_prev")
            if within_us is not None:
                cond = cond & (
                    F.col("_ts") <= F.col("_t_prev") + F.lit(within_us)
                )
            ev = ev.join(reached, "user").where(cond)
        # each stage's (user, t) frame feeds TWO consumers (the next
        # stage's gate and the final spine join), so un-materialized
        # every stage k re-ran stages 1..k-1 (r16); |users|-sized
        reached = (
            ev.groupBy("user")
            .agg(F.min("_ts").alias("_t_prev"))
            .localCheckpoint(eager=False)
        )
        stage_frames.append(
            reached.select("user", F.lit(i + 1).alias("_stage"))
        )
    out = users
    for i, fr in enumerate(stage_frames):
        out = out.join(
            fr.withColumnRenamed("_stage", f"_s{i}"), "user", "left"
        )
    stage = F.lit(0)
    for i in range(len(stages)):
        stage = F.when(F.col(f"_s{i}").isNotNull(), i + 1).otherwise(stage)
    return out.select(
        F.col("user").alias(user_col), stage.cast("int").alias("stage")
    )


def sequence_pattern_counts(
    df: DataFrame,
    pattern: str,
    symbols: dict[str, str],
    user_col: str = "user_id",
    default_symbol: str = "X",
) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection per user: map
    each event type to a one-character symbol, fold the user's
    time-ordered events into a compact symbol string, and count
    non-overlapping regex matches of ``pattern`` over it — the
    classic "V+C[^P]*P"-shaped funnel/behavior miner that SQL engines
    expose as MATCH_RECOGNIZE. Returns (user, n_events, n_matches)
    for users with at least one match.

    Engine-portability rule for callers: keep patterns in the
    deterministic subset — literals, classes, NEGATED classes for
    "eventually" gaps (``[^P]*P``, never ``.*?P``), ``+``/``*`` on
    those — so backtracking (Java) and automaton (RE2-style) engines
    agree on the non-overlapping leftmost scan.

    Plan: ONE shuffle on the high-cardinality user key, and the
    shuffled payload per event is a (ts_us, event_id, 1-char symbol)
    struct — the pattern never sees raw event rows. The per-user
    string is bounded by events-per-user (sessions at 100 TB are
    bounded; a runaway key is capped upstream by debounce/sessionize),
    ordering is total (ts, then event id), and the regex runs
    JVM-side (``regexp_count``) inside whole-stage codegen — no UDFs.
    Expects ``ts_us`` (see :func:`with_event_time`).
    """
    sym = None
    for etype, ch in symbols.items():
        cond = F.when(F.col("event_type") == etype, F.lit(ch))
        sym = cond if sym is None else sym.when(
            F.col("event_type") == etype, F.lit(ch)
        )
    sym = (
        sym.otherwise(F.lit(default_symbol))
        if sym is not None
        else F.lit(default_symbol)
    )
    seq = (
        df.select(
            F.col(user_col).alias("user"),
            F.struct(
                F.col("ts_us").alias("t"),
                F.col("event_id").alias("i"),
                sym.alias("s"),
            ).alias("ev"),
        )
        .groupBy("user")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("ev")), lambda e: e["s"]
                ),
            ).alias("_seq")
        )
    )
    return (
        seq.select(
            F.col("user").alias(user_col),
            F.length("_seq").cast("long").alias("n_events"),
            F.regexp_count(F.col("_seq"), F.lit(pattern))
            .cast("long")
            .alias("n_matches"),
        )
        .where(F.col("n_matches") > 0)
    )


def gap_fill_hourly(df: DataFrame, user_mod: int = 15) -> DataFrame:
    """Regular-grid resampling with forward fill — the time-series
    "densify" operator behind per-entity activity charts and
    feature-store backfills: every sampled user gets one row per HOUR
    between their first and last event, gap hours carried forward
    from the last observed hour.

    Semantics per (user, hour): ``n_events`` (0 on gaps),
    ``val_cents`` = exact integer sum of round(value·100) (0 on
    gaps), ``last_type`` = event_type of the latest event in that
    hour ((ts_us, event_id) max — deterministic under ties), and
    ``filled_type`` = last_type carried forward across gaps. The
    grid starts at each user's OWN first hour, so the forward-fill
    window never sees a leading NULL.

    Scale: the grid explode is per-user (sequence() over the user's
    own [first, last] hour span — no global calendar join), the fill
    window partitions by ``user_id`` (high cardinality, never a
    single-partition sort), and the observed-hour aggregate shuffles
    once on the same (user, hour) key the grid join reuses.
    ``user_mod`` samples the user dimension (id % mod == 0) so the
    densified frame stays proportional to users, not events.
    """
    ev = with_event_time(df).where(F.col("user_id") % user_mod == 0)
    # integer division, not `/`: float div + cast can round a k-ε
    # ratio up at the 1e-16 ulp edge; `div` is exact on every engine
    ev = ev.withColumn("h", F.expr(f"ts_us div {US_PER_HOUR}"))
    obs = ev.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("val_cents"),
        F.max_by(
            "event_type", F.struct(F.col("ts_us"), F.col("event_id"))
        ).alias("last_type"),
    )
    # obs feeds two INDEPENDENT consumers (the span aggregate and the
    # grid join); per-branch column pruning makes their subtrees
    # differ, so Catalyst cannot reuse the exchange and each branch
    # would re-scan EVERY event. obs is bounded by users × hours —
    # tiny next to the event stream — so eager materialization is the
    # cheap side of the consumer-topology rule (SCALE.md), and the
    # span aggregate then reads user×hour rows, not events.
    obs = obs.localCheckpoint()
    span = obs.groupBy("user_id").agg(
        F.min("h").alias("_h0"), F.max("h").alias("_h1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence(F.col("_h0"), F.col("_h1"))).alias("h"),
    )
    filled = grid.join(obs, ["user_id", "h"], "left")
    w = Window.partitionBy("user_id").orderBy("h")
    return filled.select(
        "user_id",
        "h",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce("val_cents", F.lit(0)).cast("long").alias("val_cents"),
        F.last("last_type", ignorenulls=True).over(w).alias("filled_type"),
        F.col("last_type").isNull().alias("is_gap"),
    )


def rfm_segments(df: DataFrame) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic activity-scoring rollup, built the way it has to be
    built at a billion users: per-user metrics from ONE keyed
    aggregate, quartile thresholds from ONE global aggregate
    (``percentile`` — partial-aggregated, no sort), thresholds
    broadcast back as a 1-row frame, tiles assigned in a narrow map.
    No unpartitioned ranking window anywhere — ntile() over all users
    is the naive formulation and is exactly what does NOT survive a
    100× user count.

    Determinism: metrics are exact integers (hours, counts, cents);
    percentile(0/.25/.5/.75) interpolates at quarter fractions, which
    are exact in binary, so the thresholds — and therefore every tile
    — are bit-identical across engines. Tile k ∈ 1..4 counts strict
    threshold exceedances; recency tiles invert (most recent = 4) so
    bigger is always better. Returns one row per user plus the
    'R{r}F{f}M{m}' segment label.
    """
    ev = with_event_time(df)
    per_user = ev.groupBy("user_id").agg(
        F.max("ts_us").alias("_last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("monetary_cents"),
    )
    # per_user feeds FOUR independent plan sites (global max, the
    # metrics spine, and through metrics the quartile agg + the tile
    # map) — unchecked, each replays the full event scan (audited: 4
    # FileScans). The per-user frame is the small side by definition;
    # eager materialization per the consumer-topology rule.
    per_user = per_user.localCheckpoint()
    gmax = per_user.agg(F.max("_last_us").alias("_gmax"))
    metrics = per_user.crossJoin(F.broadcast(gmax)).select(
        "user_id",
        # exact integer hours — see gap_fill_hourly's div rationale
        F.expr(f"(_gmax - _last_us) div {US_PER_HOUR}").alias("recency_h"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary_cents",
    )
    qs = metrics.agg(
        F.expr(
            "percentile(recency_h, array(0.25, 0.5, 0.75))"
        ).alias("_qr"),
        F.expr(
            "percentile(frequency, array(0.25, 0.5, 0.75))"
        ).alias("_qf"),
        F.expr(
            "percentile(monetary_cents, array(0.25, 0.5, 0.75))"
        ).alias("_qm"),
    )

    def tile(col: str, q, invert: bool) -> F.Column:
        c = F.col(col).cast("double")
        t = (
            F.lit(1)
            + (c > q[0]).cast("int")
            + (c > q[1]).cast("int")
            + (c > q[2]).cast("int")
        )
        return (F.lit(5) - t) if invert else t

    scored = metrics.crossJoin(F.broadcast(qs))
    r = tile("recency_h", F.col("_qr"), invert=True)
    f = tile("frequency", F.col("_qf"), invert=False)
    m = tile("monetary_cents", F.col("_qm"), invert=False)
    return scored.select(
        "user_id",
        "recency_h",
        "frequency",
        "monetary_cents",
        r.cast("int").alias("r_tile"),
        f.cast("int").alias("f_tile"),
        m.cast("int").alias("m_tile"),
        F.concat(
            F.lit("R"), r.cast("string"),
            F.lit("F"), f.cast("string"),
            F.lit("M"), m.cast("string"),
        ).alias("segment"),
    )


def ewma_hourly(
    df: DataFrame,
    alpha_num: int = 1,
    alpha_den: int = 4,
    user_mod: int = 15,
) -> DataFrame:
    """Exponentially-weighted moving average per user over hourly
    cents totals — the classic time-series smoother behind anomaly
    baselines and trend features. EWMA is irreducibly sequential per
    series, so the shape mirrors :func:`gap_fill_hourly`'s scale
    rules: one keyed (user, hour) aggregate, then per-user folds over
    a SORTED in-row array (bounded by the series length in hours,
    never by event count) — users parallelize, the fold pipelines in
    codegen, no window, no UDF.

    Cross-engine determinism: the recurrence ``s' = s·(1−α) + x·α``
    runs in IEEE doubles over exact integer cents, with α = 1/4 (both
    factors exact in binary) and an identical evaluation order on any
    engine that replays the same per-user hour ordering — the oracle's
    recursive CTE reproduces the sequence bit-for-bit; outputs round
    to 4 anyway.
    """
    a = alpha_num / alpha_den
    ev = with_event_time(df).where(F.col("user_id") % user_mod == 0)
    ev = ev.withColumn("h", F.expr(f"ts_us div {US_PER_HOUR}"))
    hourly = ev.groupBy("user_id", "h").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    series = hourly.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("h"), F.col("cents")))
        ).alias("_s")
    )
    # fold: acc = (last smoothed value, emitted rows); first element
    # seeds the recurrence (s_0 = x_0). The new smoothed value is
    # built ONCE and reused for both the carried state and the
    # emitted row — a single source of truth for the recurrence, so
    # an edit can never desynchronize the two (review finding).
    def _step(acc, e):  # type: ignore[no-untyped-def]
        s_new = F.when(
            acc["s"].isNull(), e["cents"].cast("double")
        ).otherwise(
            acc["s"] * F.lit(1.0 - a)
            + e["cents"].cast("double") * F.lit(a)
        )
        return F.struct(
            s_new.alias("s"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        e["h"].alias("h"),
                        e["cents"].alias("cents"),
                        s_new.alias("ewma"),
                    )
                ),
            ).alias("out"),
        )

    fold = F.aggregate(
        F.col("_s"),
        F.struct(
            F.lit(None).cast("double").alias("s"),
            F.expr(
                "CAST(array() AS array<struct<h:bigint,cents:bigint,"
                "ewma:double>>)"
            ).alias("out"),
        ),
        _step,
    )
    return (
        series.select("user_id", F.explode(fold["out"]).alias("e"))
        .select(
            "user_id",
            F.col("e.h").alias("h"),
            F.col("e.cents").alias("cents"),
            F.round(F.col("e.ewma"), 4).alias("ewma"),
        )
    )
