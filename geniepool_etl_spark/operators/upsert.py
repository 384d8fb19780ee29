"""Keyed upsert (merge) and history maintenance over DataFrames.

The reference's lake is append/overwrite-only (M:127-138, M:156); a
production training-data pipeline additionally needs *merge*: re-ingest
corrected documents, refresh annotation snapshots, apply late events —
without rewriting 100 TB. :func:`merge_upsert` is the pure dataflow:
for every key, the update row wins, otherwise the base row survives.
One anti-join (no full outer join, no window): the update side is
usually ≪ base, so the anti-join broadcasts it and the base side
streams through untouched. Merging into STORED files is the snapshot
table's job (``snaptable.merge_table`` / ``apply_cdc``: a transactional
copy-on-write MERGE that rewrites only the files holding a batch key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(
    base: DataFrame, updates: DataFrame, keys: list[str]
) -> DataFrame:
    """Rows of ``updates`` plus the rows of ``base`` whose key has no
    update — the SQL ``MERGE … WHEN MATCHED UPDATE WHEN NOT MATCHED
    INSERT`` result for whole-row updates.

    Plan shape: ``base ⟕̸ updates`` (left anti on the keys) ∪ updates.
    The anti-join is the only join and its build side is the update
    set; Catalyst broadcasts it when small (the common case), leaving
    the base scan shuffle-free. Schemas must match (enforced by
    ``unionByName``).
    """
    survivors = base.join(updates.select(*keys), keys, "left_anti")
    return survivors.unionByName(updates)


def merge_rollup(
    standing: DataFrame,
    batch_partials: DataFrame,
    keys: list[str],
    count_cols: list[str] = (),
    sum_cols: list[str] = (),
    min_cols: list[str] = (),
    max_cols: list[str] = (),
) -> DataFrame:
    """Incremental aggregate maintenance: combine a STANDING rollup
    table with a new batch's partial aggregates — union the partials,
    one re-aggregation keyed on ``keys`` — instead of recomputing the
    rollup over all history.

    This only works for aggregates that are *mergeable partials*:
    counts and sums merge by SUM, min/max by MIN/MAX. Anything
    non-mergeable must be carried AS its partials — store (sum, n)
    and derive avg at read time, store an HLL sketch and estimate at
    read time — never the finished statistic. That storage rule is
    the whole pattern; this function is just its one-shuffle combine.

    Scale: the standing table is already aggregated (|keys| rows, ≪
    raw history) and the batch side is one ingest window, so the
    union-then-groupBy shuffles |keys| + |batch keys| rows — daily
    cost is proportional to the DAY, not to 100 TB of history. The
    result equals the full recompute exactly when the summed columns
    are integers (order-independent); keep money/values in integer
    cents through the partials.
    """
    merged = standing.unionByName(batch_partials)
    aggs = (
        [F.sum(c).alias(c) for c in count_cols]
        + [F.sum(c).alias(c) for c in sum_cols]
        + [F.min(c).alias(c) for c in min_cols]
        + [F.max(c).alias(c) for c in max_cols]
    )
    if not aggs:
        raise ValueError("merge_rollup: no aggregate columns given")
    return merged.groupBy(*keys).agg(*aggs)


def scd2_from_changelog(
    df: DataFrame,
    key: str,
    ts_col: str,
    attr: str,
    id_col: str,
) -> DataFrame:
    """Build a slowly-changing-dimension **type 2** history from an
    append-only change log: per ``key``, a row per distinct run of
    ``attr`` with ``[valid_from_us, valid_to_us)`` validity,
    ``version`` (1-based per key), and ``is_current``.

    The reference's lake keeps only the latest snapshot (append /
    overwrite — M:127-138); SCD2 is what a training-data pipeline
    needs to ask "what did this dimension say WHEN the example was
    created" — joinable point-in-time via
    ``valid_from_us <= t < coalesce(valid_to_us, +inf)``.

    Two logical steps over ONE shuffle key (Catalyst reuses the
    (key, ts, id) sort for both windows — no second exchange):

    1. *Run compression*: keep a log row iff it is the key's first row
       or its ``attr`` differs from the previous row (null-safe, so a
       NULL→value or value→NULL change opens a version too). Repeated
       writes of the same value — the overwhelmingly common case in a
       re-ingested log — collapse for free.
    2. *Interval stitch*: ``valid_from = ts``, ``valid_to = lead(ts)``
       over the surviving change rows; the open interval (NULL
       ``valid_to``) is current.

    Determinism: same-timestamp writes tiebreak on ``id_col``; the
    log's arrival order never matters.
    """
    w = Window.partitionBy(key).orderBy(ts_col, id_col)
    changed = (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_prev", F.lag(attr).over(w))
        .where(
            (F.col("_rn") == 1)
            | ~F.col(attr).eqNullSafe(F.col("_prev"))
        )
    )
    w2 = Window.partitionBy(key).orderBy(ts_col, id_col)
    return changed.select(
        F.col(key),
        F.col(attr),
        F.col(ts_col).alias("valid_from_us"),
        F.lead(ts_col).over(w2).alias("valid_to_us"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )


def point_in_time_join(
    facts: DataFrame,
    history: DataFrame,
    key: str,
    fact_ts: str = "ts_us",
    attr: str = "event_type",
    fact_id: str = "event_id",
) -> DataFrame:
    """Point-in-time (temporal) join: for each fact row, the SCD2
    history version (:func:`scd2_from_changelog` output) valid AT the
    fact's timestamp — ``valid_from_us <= t < valid_to_us`` with the
    open current interval matching everything after its start.

    The naive formulation is a range join (equi key + two interval
    predicates) — quadratic per key and not natively planned by
    Spark. Because SCD2 intervals TILE per key (gapless, disjoint),
    point-in-time lookup reduces to "latest version start at or
    before t": the union-carry as-of pattern (events.py's
    asof_join_latest_prior), one shuffle on the high-cardinality key,
    zero self-joins. Version starts sort BEFORE facts at the same
    timestamp, which is exactly the inclusive-``valid_from`` /
    exclusive-``valid_to`` boundary rule.

    (version, attr) are carried as ONE struct so a legitimately NULL
    history ``attr`` is still distinguishable from "no version yet"
    (a struct is non-null even when its fields are null). Facts that
    predate their key's first version are dropped (inner-join
    semantics — the caller can anti-join for the orphans).

    Returns (key, fact_id, fact_ts, ``{attr}_at_ts``, version).
    """
    v_struct = F.struct(
        F.col("version").cast("long").alias("v"),
        F.col(attr).alias("a"),
    )
    h = history.select(
        F.col(key),
        F.col("valid_from_us").alias("_t"),
        F.lit(0).alias("_side"),
        F.col("version").cast("long").alias("_ord"),
        v_struct.alias("_v"),
        F.lit(None).cast("long").alias(fact_id),
    )
    f = facts.select(
        F.col(key),
        F.col(fact_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.col(fact_id).cast("long").alias("_ord"),
        F.lit(None).cast(
            "struct<v: bigint, a: string>"
        ).alias("_v"),
        F.col(fact_id),
    )
    w = (
        Window.partitionBy(key)
        .orderBy("_t", "_side", "_ord")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = f.unionByName(h).withColumn(
        "_cur", F.last("_v", ignorenulls=True).over(w)
    )
    return (
        carried.where(
            (F.col("_side") == 1) & F.col("_cur").isNotNull()
        )
        .select(
            F.col(key),
            F.col(fact_id),
            F.col("_t").alias(fact_ts),
            F.col("_cur.a").alias(f"{attr}_at_ts"),
            F.col("_cur.v").alias("version"),
        )
    )


def scd2_apply_batch(
    history: DataFrame,
    batch: DataFrame,
    key: str,
    ts_col: str,
    attr: str,
    id_col: str,
) -> DataFrame:
    """Incrementally merge a NEW change-log batch into standing SCD2
    history (:func:`scd2_from_changelog` output) — the daily-batch
    form whose cost tracks the batch, never the history.

    Precondition (the append-only contract): every batch row's
    timestamp is at or after its key's current ``valid_from_us``.
    At an EXACTLY equal timestamp the batch row always replays as
    later than the standing row (the seed id is Long.MIN_VALUE, so
    no batch id — negative included — can tie or undercut it); this
    matches the full rebuild whenever the batch row's ``id_col``
    also exceeds the standing row's, which time-ordered ingest ids
    give by construction.
    True by construction for time-partitioned ingest (the batch is a
    later time slice); a batch that rewrites the past needs the full
    recompute path instead.

    Plan: batch keys (tiny, broadcast) split the standing history in
    TWO passes over it, each a broadcast-probe map (r16 — previously
    four: the current-row slice fed the seed and the version bases
    through separate scans, and untouched/closed keys were split by
    separate anti/semi probes). Each touched key's CURRENT row —
    materialized once via a batch-sized lazy localCheckpoint — is
    replayed as a seed log row ahead of the batch,
    :func:`scd2_from_changelog` compresses seed+batch, and version
    numbers shift by the key's prior version base. Everything that is
    NOT a touched key's current row (untouched keys wholesale,
    touched keys' closed rows) streams through unshuffled in one
    complementary pass. Equivalence to the full recompute over the
    combined log is the contract entry's oracle check.
    """
    touched = batch.select(key).distinct()
    cur = (
        history.where(F.col("is_current"))
        .join(F.broadcast(touched), key, "semi")
        .select(key, "valid_from_us", attr, "version")
        # batch-sized (one row per touched key): both consumers (the
        # seed rows and the version bases) read the materialized
        # slice instead of re-scanning the standing history
        .localCheckpoint(eager=False)
    )
    seed = cur.select(
        F.col(key),
        F.col("valid_from_us").alias(ts_col),
        F.col(attr),
        # Long.MIN_VALUE sorts before every real batch row
        # UNCONDITIONALLY: batch ts > standing ts per the
        # precondition, and at an exactly-equal ts no batch id can
        # tie or undercut the seed (no nonnegative-id assumption)
        F.lit(-(1 << 63)).cast("long").alias(id_col),
    )
    mini_log = seed.unionByName(
        batch.select(
            F.col(key), F.col(ts_col), F.col(attr),
            F.col(id_col).cast("long"),
        )
    )
    replayed = scd2_from_changelog(
        mini_log, key=key, ts_col=ts_col, attr=attr, id_col=id_col
    )
    bases = cur.select(F.col(key), (F.col("version") - 1).alias("_b"))
    renumbered = (
        replayed.join(F.broadcast(bases), key, "left")
        .select(
            F.col(key),
            F.col(attr),
            "valid_from_us",
            "valid_to_us",
            (F.col("version") + F.coalesce(F.col("_b"), F.lit(0)))
            .alias("version"),
            "is_current",
        )
    )
    # complement of `cur` in one pass: NOT (touched AND current) —
    # the left probe against the distinct touched keys adds no
    # duplicates and keeps NULL-key rows (no match ⇒ pass through),
    # exactly like the former anti ∪ (semi ∧ ¬current) pair
    passthrough = (
        history.join(
            F.broadcast(touched.withColumn("_t", F.lit(1))),
            key,
            "left",
        )
        .where(F.col("_t").isNull() | ~F.col("is_current"))
        .drop("_t")
    )
    return passthrough.unionByName(renumbered)


def merge_upsert_latest(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    ts_col: str,
) -> DataFrame:
    """Conditional merge for out-of-order delivery: an update wins
    ONLY if its ``ts_col`` is strictly newer than the base row's —
    the ``MERGE … WHEN MATCHED AND s.ts > t.ts`` semantic that makes
    re-delivered or late-arriving snapshots safe to apply blindly.

    Plan: one keyed union + per-key max-timestamp keep (row_number
    with a deterministic side tiebreak: at EQUAL timestamps the base
    row survives, so replaying the same snapshot is a no-op). One
    shuffle on the keys; both sides stream into it.
    """
    b = base.withColumn("_side", F.lit(0))
    u = updates.withColumn("_side", F.lit(1))
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).desc(), F.col("_side").asc()
    )
    return (
        b.unionByName(u)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_side")
    )
