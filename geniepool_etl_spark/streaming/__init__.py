"""Structured Streaming operators over the events stream.

The batch operators in ``operators/events.py`` are written
streaming-compatible (keyed by window × entity, event-time only), so
the same aggregation expressions run under ``readStream`` unchanged —
this module supplies the stream wiring: file source with explicit
schema, watermarking, and sinks.

Scale notes: file-source streaming lists new files per micro-batch
(maxFilesPerTrigger bounds batch size); stateful window aggs keep
per-window state in the state store, bounded by the watermark — at
100 TB/day the watermark delay is the knob that caps state size.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession

from geniepool_etl_spark.functions import enable_nanos_as_long
from geniepool_etl_spark.operators import events as E

# Fallback DDL schema for an empty source directory (streaming sources
# cannot infer with no files). The current driver testdata writes `ts`
# as parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ.
EVENTS_DDL = (
    "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream with the schema taken from the files
    actually present (one batch-reader footer peek — a driver-side
    metadata read, no data scan). Declaring a schema that disagrees
    with the physical type is the classic silent-corruption trap: a
    micros TIMESTAMP column declared LONG loads as plain micros longs,
    and a downstream nanos→micros divide compresses the timeline
    1000×. Reading the real footer type and routing through the
    dtype-adaptive ``event_micros`` makes the pipeline correct for
    nanos-long, TIMESTAMP, and TIMESTAMP_NTZ alike."""
    from pyspark.errors import AnalysisException

    enable_nanos_as_long(spark)
    try:
        schema = spark.read.parquet(path).schema
    except AnalysisException:
        # Empty or not-yet-created source dir (UNABLE_TO_INFER_SCHEMA /
        # PATH_NOT_FOUND): fall back to the current DDL. ONLY this
        # narrow case — a transient IO/permission error must propagate,
        # because silently substituting a declared schema that later
        # disagrees with the physical type is exactly the
        # 1000×-compression trap this function exists to prevent.
        schema = EVENTS_DDL
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def tumbling_counts_stream(
    stream: DataFrame, width_us: int = E.US_PER_HOUR, watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling aggregation — append-mode capable (state
    for a window is dropped once the watermark passes its end)."""
    e = E.with_event_time(stream).withWatermark("event_time", watermark)
    return _tumbling(e, width_us)


def _tumbling(e: DataFrame, width_us: int) -> DataFrame:
    from pyspark.sql import functions as F

    win = F.window(F.col("event_time"), f"{width_us} microseconds")
    return (
        e.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _write_ingest_batch(
    batch_df: DataFrame, batch_id: int, lake_path: str
) -> None:
    """Idempotent micro-batch write: every batch lands under its own
    ``ingest_batch=<id>`` sub-partition via dynamic partition
    overwrite. ``foreachBatch`` is at-least-once — after a failure the
    same batch_id is re-delivered, and a plain append would duplicate
    any rows the interrupted attempt already committed; overwriting
    exactly this batch's (day_bucket, ingest_batch) directories makes
    the retry replace, not duplicate."""
    from pyspark.sql import functions as F

    (
        batch_df.drop("event_time")
        .withColumn("ingest_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day_bucket", "ingest_batch")
        .parquet(lake_path)
    )


def stream_events_to_lake(
    spark: SparkSession,
    src_dir: str,
    lake_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 16,
) -> None:
    """Incremental ingest: stream event files into a Hive-partitioned
    parquet lake via ``foreachBatch`` — the streaming counterpart of
    the reference's batch-append lake build. The checkpoint makes
    re-runs resume instead of re-ingest, and each micro-batch writes
    idempotently (see :func:`_write_ingest_batch`), so the lake holds
    exactly-once contents despite foreachBatch's at-least-once calls.

    Scale notes: ``max_files_per_trigger`` bounds micro-batch size (an
    unbounded first batch on a backlogged source is the classic
    streaming OOM); partitioning by event-time day keeps files per
    partition proportional to batches-per-day — run
    :func:`compact_day_partition` over closed days to collapse the
    per-batch files.
    """
    from pyspark.sql import functions as F

    # settle any compaction a previous run left mid-swap BEFORE new
    # batches land — the commit-log-replay step of ingest startup
    recover_compaction(spark, lake_path)
    stream = read_event_stream(spark, src_dir, max_files_per_trigger)
    enriched = E.with_event_time(stream).withColumn(
        "day_bucket", F.expr("ts_us div 86400000000")
    )

    _drain(
        enriched.writeStream.foreachBatch(
            lambda df, bid: _write_ingest_batch(df, bid, lake_path)
        ).option("checkpointLocation", checkpoint_dir)
    )


def _drain(writer) -> None:
    """Start ``writer``'s query, run it until every available input is
    processed, and stop it even if a batch fails."""
    query = writer.start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()


def _drain_to_memory(out: DataFrame, name: str, mode: str) -> DataFrame:
    """Drain ``out`` into the memory sink table ``name`` under output
    ``mode`` and return that table."""
    _drain(out.writeStream.format("memory").queryName(name).outputMode(mode))
    return out.sparkSession.table(name)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path-factory) for ``path`` via the JVM Hadoop FS
    API — the filesystem abstraction a 100 TB lake actually lives
    behind (HDFS, S3A, GCS, ABFS), instead of ``os``/``shutil`` calls
    that only work on a local POSIX mount."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


_COMPACT_STAGING = "_compact/staging"
_COMPACT_TRASH = "_compact/trash"
_COMMIT_MARKER = "_COMMIT_READY"


def compact_day_partition(
    spark: SparkSession,
    lake_path: str,
    day_bucket: int,
    target_files: int = 1,
    _crash_point: str | None = None,
) -> None:
    """Collapse a closed day's per-batch files into ``target_files``
    parquet files under a single ``ingest_batch=-1`` sub-partition
    (keeping the partition-directory depth uniform so discovery over
    the whole lake still works).

    Crash-consistent over the Hadoop FileSystem API — no POSIX
    ``rmtree``/``rename`` assumptions, and **nothing is deleted before
    the replacement is complete**:

    1. *stage*: compacted data is written OUTSIDE the live tree, under
       ``_compact/staging/day_bucket=<d>`` (``_``-prefixed → invisible
       to Spark's file listing), then read back and count-verified
       against the live partition; a ``_COMMIT_READY`` marker records
       the verified intent.
    2. *swap*: live partition → ``_compact/trash`` (a rename, not a
       delete), staged → live.
    3. *clean*: marker and trash removed.

    A crash at ANY point is recoverable by :func:`recover_compaction`:
    before the marker, the live partition was never touched; between
    the two swap renames (the window where the partition is briefly
    absent), the marker + staged data let recovery complete the swap;
    after the swap, only cleanup remains. The old data lives in trash
    until the new data is fully in place.

    ``_crash_point`` is a test-only fault-injection hook
    (``"after_stage"`` / ``"mid_swap"``) simulating a driver death.
    """
    part_name = f"day_bucket={day_bucket}"
    fs, P = _hadoop_fs(spark, lake_path)
    live = P(os.path.join(lake_path, part_name))
    if not fs.exists(live):
        return
    staging = P(os.path.join(lake_path, _COMPACT_STAGING, part_name))
    trash = P(os.path.join(lake_path, _COMPACT_TRASH, part_name))
    marker = P(os.path.join(lake_path, _COMPACT_STAGING, part_name, _COMMIT_MARKER))
    # a previous crashed attempt may have left state — settle it first
    recover_compaction(spark, lake_path)

    n_live = spark.read.parquet(str(live)).count()
    (
        spark.read.parquet(str(live))
        .drop("ingest_batch")
        .coalesce(target_files)
        .write.mode("overwrite")
        .parquet(os.path.join(str(staging), "ingest_batch=-1"))
    )
    # verify the staged replacement BEFORE touching the live tree
    n_staged = spark.read.parquet(str(staging)).count()
    if n_staged != n_live:
        fs.delete(staging, True)
        raise RuntimeError(
            f"compact_day_partition: staged row count {n_staged} != live "
            f"{n_live} for {part_name}; aborting without touching live data"
        )
    fs.create(marker, True).close()
    if _crash_point == "after_stage":
        raise RuntimeError("injected crash: staged+marked, live untouched")
    # swap: trash the live dir (rename — old data stays recoverable),
    # then move the verified staging into place
    fs.mkdirs(trash.getParent())
    fs.delete(trash, True)
    if not fs.rename(live, trash):
        fs.delete(marker, False)
        fs.delete(staging, True)
        raise RuntimeError(f"compact_day_partition: rename to trash failed for {part_name}")
    if _crash_point == "mid_swap":
        raise RuntimeError("injected crash: live in trash, staged not yet moved")
    if not fs.rename(staging, live):
        # restore the live dir rather than leave the partition absent
        fs.rename(trash, live)
        raise RuntimeError(f"compact_day_partition: swap rename failed for {part_name}")
    fs.delete(P(os.path.join(str(live), _COMMIT_MARKER)), False)
    fs.delete(trash, True)


def recover_compaction(spark: SparkSession, lake_path: str) -> None:
    """Settle any interrupted :func:`compact_day_partition`, restoring
    every partition to a fully-readable state. Idempotent; run it on
    ingest startup (the moral equivalent of a commit-log replay):

    - staged dir + marker + live partition ABSENT → the crash hit
      between the swap renames: complete the swap from staging.
    - staged dir with live PRESENT (marker or not) → the swap never
      started (or already finished): the live tree is authoritative;
      drop the staging.
    - trash dir with live PRESENT → cleanup after a completed swap:
      drop the trash. Trash with live ABSENT → restore from trash
      (a swap whose second rename failed mid-flight).
    """
    fs, P = _hadoop_fs(spark, lake_path)
    staging_root = P(os.path.join(lake_path, _COMPACT_STAGING))
    trash_root = P(os.path.join(lake_path, _COMPACT_TRASH))
    # staging first: a marker + absent live partition means the crash
    # hit between the swap renames — roll FORWARD to the verified
    # compacted data (the trash pass below then just drops the old
    # copy, instead of racing the roll-forward by restoring it)
    if fs.exists(staging_root):
        for st in fs.listStatus(staging_root):
            name = st.getPath().getName()
            live = P(os.path.join(lake_path, name))
            marker = P(os.path.join(str(st.getPath()), _COMMIT_MARKER))
            if not fs.exists(live) and fs.exists(marker):
                fs.rename(st.getPath(), live)
                fs.delete(P(os.path.join(str(live), _COMMIT_MARKER)), False)
            else:
                fs.delete(st.getPath(), True)
    if fs.exists(trash_root):
        for st in fs.listStatus(trash_root):
            name = st.getPath().getName()
            live = P(os.path.join(lake_path, name))
            if fs.exists(live):
                fs.delete(st.getPath(), True)
            else:
                fs.rename(st.getPath(), live)


def sessionized_stream(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization: native ``session_window`` keyed by
    user — the streaming twin of the batch ``operators/events.py``
    session aggregation. State per (user, open session) is bounded by
    the watermark: a session closes (and its state drops) once the
    watermark passes its end + gap."""
    from pyspark.sql import functions as F

    e = E.with_event_time(stream).withWatermark("event_time", watermark)
    return (
        e.groupBy(
            F.session_window(F.col("event_time"), gap).alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "user_id",
            "n_events",
            "max_value",
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exactly-once dedup on an id key:
    ``dropDuplicatesWithinWatermark`` keeps the dedup state bounded by
    the watermark (a plain streaming dropDuplicates grows state
    forever — the classic 100 TB/day OOM), so a replayed/duplicated
    event inside the watermark window is dropped and state for old
    keys is reclaimed."""
    e = E.with_event_time(stream).withWatermark("event_time", watermark)
    return e.dropDuplicatesWithinWatermark(keys or ["event_id"])


def clicks_to_purchases_stream(
    stream: DataFrame, within_us: int = 2 * E.US_PER_HOUR
) -> DataFrame:
    """Stream-stream inner join: each purchase joined to the SAME
    user's click events at most ``within_us`` earlier — the streaming
    attribution join. Both sides carry watermarks and the join
    condition bounds event-time distance, so the state store retains
    each side only for the join window (the unbounded-state trap is a
    time-unbounded stream-stream join).

    The range bound MUST be expressed on the watermarked event-time
    columns themselves (``click_time``/``purchase_time``): Spark
    derives the state-cleanup watermark for each join side only from
    conditions on watermarked event-time attributes, so a bound on the
    derived ``*_us`` long columns — while semantically identical —
    would never evict state (unbounded growth). The ``*_us`` columns
    are output-only."""
    from pyspark.sql import functions as F

    e = E.with_event_time(stream)
    clicks = (
        e.where("event_type = 'click'")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts_us").alias("click_us"),
            F.col("event_time").alias("click_time"),
        )
        .withWatermark("click_time", "2 hours")
    )
    purchases = (
        e.where("event_type = 'purchase'")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts_us").alias("purchase_us"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_time") <= F.col("purchase_time"))
        & (
            F.col("click_time")
            >= F.col("purchase_time")
            - F.expr(f"INTERVAL {int(within_us)} MICROSECOND")
        ),
        "inner",
    ).select("p_user", "purchase_id", "click_id", "purchase_us", "click_us")


def _stage_events_src(sf_dir: str, copies: int = 1) -> str:
    """Copy the events parquet into a fresh streaming source dir
    (``copies`` > 1 simulates an upstream replay of the same data)."""
    src = tempfile.mkdtemp(prefix="gp_stream_src_")
    for f in glob.glob(os.path.join(sf_dir, "events.parquet")):
        for i in range(copies):
            shutil.copy(f, os.path.join(src, f"copy{i}.parquet"))
    return src


def run_session_stream(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Execute the session aggregation as a real micro-batch stream
    over the events parquet and return the closed sessions.

    ``session_window`` streams in APPEND mode only — a session is
    emitted once the watermark passes its end + gap — so after the
    real data a far-future flush event (user_id = -1, written in the
    source's own ts encoding) advances the watermark and closes every
    real session; flush rows are filtered from the result. This is the
    production pattern for draining a bounded replay through a
    streaming topology."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from geniepool_etl_spark.functions import event_micros

    src = _stage_events_src(sf_dir)
    out = sessionized_stream(read_event_stream(spark, src))
    query = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        src_df = spark.read.parquet(src)
        max_us = src_df.select(
            F.max(event_micros(src_df, "ts")).alias("m")
        ).collect()[0]["m"]
        flush_us = max_us + 24 * 3600 * 1_000_000
        if isinstance(src_df.schema["ts"].dataType, T.LongType):
            flush_ts: object = flush_us * 1000
        elif isinstance(src_df.schema["ts"].dataType, T.TimestampType):
            # tz-aware column: a NAIVE datetime would be read through
            # the Python process's local timezone (time.mktime); pin
            # the instant with an explicit UTC tzinfo.
            flush_ts = datetime.datetime(
                1970, 1, 1, tzinfo=datetime.timezone.utc
            ) + datetime.timedelta(microseconds=flush_us)
        else:  # TIMESTAMP_NTZ: wall-clock value, naive by definition
            flush_ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(
                microseconds=flush_us
            )
        # keyed by FIELD NAME, then laid out in the source's own
        # column order — a positional tuple would silently put the
        # flush timestamp in the wrong column if the upstream writer
        # ever reorders columns (caught by an encoding-drift drill:
        # a reordered source made the flush land at 1970 and the last
        # watermark-window of sessions never closed)
        flush_vals = {
            "event_id": 10**9,
            "ts": flush_ts,
            "user_id": -1,
            "event_type": "flush",
            "value": 0.0,
            "props": "{}",
        }
        spark.createDataFrame(
            [tuple(flush_vals[f.name] for f in src_df.schema.fields)],
            schema=src_df.schema,
        ).write.mode("append").parquet(src)
        query.processAllAvailable()
    finally:
        query.stop()
    return spark.table(name).where("user_id >= 0")


def run_dedup_stream(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Execute the watermarked streaming dedup over a source that
    replays the events file TWICE (the at-least-once upstream shape):
    the output must be exactly one row per event_id — the original
    table."""
    src = _stage_events_src(sf_dir, copies=2)
    out = dedup_stream(read_event_stream(spark, src)).select(
        "event_id", "user_id", "event_type", "value"
    )
    return _drain_to_memory(out, name, "append")


def run_stateful_counts_stream(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Execute the applyInPandasWithState running per-user accumulator
    (streaming.stateful.running_user_counts) over a bounded replay and
    return the final state rows. With the whole replay in one
    micro-batch, each user emits exactly one update row — the batch
    groupBy answer — which makes the custom-stateful lane
    oracle-checkable."""
    from geniepool_etl_spark.streaming.stateful import running_user_counts

    src = _stage_events_src(sf_dir)
    out = running_user_counts(read_event_stream(spark, src))
    return _drain_to_memory(out, name, "update")


def run_attribution_stream(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Execute the watermarked stream-stream attribution join
    (:func:`clicks_to_purchases_stream`) as a real micro-batch stream
    and return the joined result. Inner stream-stream joins emit a
    match as soon as both sides have arrived — no watermark flush
    needed for a bounded replay; the watermarks exist to bound state,
    not to gate output."""
    src = _stage_events_src(sf_dir)
    out = clicks_to_purchases_stream(read_event_stream(spark, src))
    return _drain_to_memory(out, name, "append")


def run_tumbling_stream(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Execute the tumbling aggregation as a real micro-batch stream
    over the events parquet (staged into its own source directory) and
    return the final result table (memory sink, complete mode — the
    batch-equivalent answer)."""
    src = _stage_events_src(sf_dir)
    stream = read_event_stream(spark, src)
    out = E.tumbling_agg(stream)
    return _drain_to_memory(out, name, "complete")


def maintain_rollup_stream(
    spark: SparkSession,
    src_dir: str,
    standing_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 16,
    keep_versions: int = 3,
) -> DataFrame:
    """Streaming aggregate-table maintenance: each micro-batch's
    partial aggregates merge into a standing per-user rollup via
    ``operators.upsert.merge_rollup`` — the streaming half of the
    incremental-rollup pattern (never recompute history; each batch
    costs O(batch + |keys|)).

    Exactly-once despite foreachBatch's at-least-once delivery, with
    no dedup ledger: the standing table is VERSIONED BY BATCH ID
    (``v=<epoch_id>`` subdirs). Batch N merges the latest version
    < N with its own partials and overwrites ``v=N`` — a redelivered
    batch recomputes from the same predecessor and produces the same
    bytes, so retries are idempotent by construction (same recipe as
    the ingest lane's per-batch partition overwrite). Old versions
    are pruned past ``keep_versions`` (kept > 1 so an in-flight
    reader of version N-1 on an object store doesn't lose its files
    mid-read). Returns the final standing rollup.

    Listing/pruning go through the Hadoop FS API, not ``os`` — the
    standing table lives wherever the lake lives (HDFS/S3A/GCS).
    """
    return _maintain_versions(
        spark, src_dir, standing_path, checkpoint_dir,
        max_files_per_trigger, "rollup",
        lambda df, bid: merge_rollup_version(
            df, bid, standing_path, keep_versions=keep_versions
        ),
    )


def _maintain_versions(
    spark: SparkSession,
    src_dir: str,
    standing_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None,
    what: str,
    step,
) -> DataFrame:
    """The path every versioned maintainer shares: drain the event
    stream through ``foreachBatch(step)`` (``step`` writes
    ``v=<epoch_id>``, see :func:`_version_step`) and read the latest
    standing version."""
    stream = read_event_stream(spark, src_dir, max_files_per_trigger)
    _drain(
        stream.writeStream.foreachBatch(step).option(
            "checkpointLocation", checkpoint_dir
        )
    )
    vs = _rollup_versions(spark, standing_path)
    if not vs:
        raise ValueError(f"no {what} versions produced in {standing_path}")
    return spark.read.parquet(f"{standing_path}/v={vs[-1]}")


def _rollup_versions(spark: SparkSession, standing_path: str) -> list[int]:
    fs, mkpath = _hadoop_fs(spark, standing_path)
    root = mkpath(standing_path)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("v="):
            out.append(int(name[2:]))
    return sorted(out)


def _version_step(
    spark: SparkSession,
    epoch_id: int,
    standing_path: str,
    keep_versions: int,
    build,
) -> None:
    """One step of a batch-id-versioned standing table: ``build`` the
    new version from the latest version < ``epoch_id`` (or from
    ``None`` when there is none — the bootstrap), overwrite
    ``v=<epoch_id>``, and prune all but the newest ``keep_versions``.
    A pure function of (predecessor version, batch), so a redelivered
    epoch rewrites identical bytes."""
    fs, mkpath = _hadoop_fs(spark, standing_path)
    prior = [
        v for v in _rollup_versions(spark, standing_path) if v < epoch_id
    ]
    standing = (
        spark.read.parquet(f"{standing_path}/v={prior[-1]}")
        if prior
        else None
    )
    build(standing).write.mode("overwrite").parquet(
        f"{standing_path}/v={epoch_id}"
    )
    for v in _rollup_versions(spark, standing_path)[:-keep_versions]:
        fs.delete(mkpath(f"{standing_path}/v={v}"), True)


def merge_rollup_version(
    batch_df: DataFrame,
    epoch_id: int,
    standing_path: str,
    keep_versions: int = 3,
) -> None:
    """One version step of the streaming rollup: merge ``batch_df``'s
    partials with the latest standing version < ``epoch_id`` and
    overwrite ``v=<epoch_id>``. Pure function of (predecessor
    version, batch) — calling it again with the same epoch recomputes
    identical bytes, which is exactly why foreachBatch redelivery is
    harmless (asserted directly by the replay test)."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.operators.upsert import merge_rollup

    cents = F.round(F.col("value") * 100).cast("long")
    p = E.with_event_time(batch_df).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("sum_cents"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    _version_step(
        batch_df.sparkSession, epoch_id, standing_path, keep_versions,
        lambda standing: p if standing is None else merge_rollup(
            standing,
            p,
            ["user_id"],
            count_cols=["n_events"],
            sum_cols=["sum_cents"],
            min_cols=["min_value"],
            max_cols=["max_value"],
        ),
    )


def run_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract-entry wrapper for :func:`maintain_rollup_stream`:
    stage the events parquet as TWO source files, drain them one per
    micro-batch (so the standing table really is built by ≥2
    versioned merges, not a single batch), and return the final
    rollup. Fresh source/standing/checkpoint dirs per invocation —
    re-invocable in one session."""
    src = _stage_events_src(sf_dir, copies=2)
    standing = tempfile.mkdtemp(prefix="gp_rollup_standing_")
    ckpt = tempfile.mkdtemp(prefix="gp_rollup_ckpt_")
    return maintain_rollup_stream(
        spark, src, standing, ckpt, max_files_per_trigger=1
    )


def ingest_snap_batch(
    batch_df: DataFrame, batch_id: int, table_path: str
) -> None:
    """Commit one micro-batch into a snapshot table (snaptable.py)
    EXACTLY ONCE despite foreachBatch's at-least-once delivery: the
    batch id is stamped into the manifest ``props`` and checked
    against the table's commit ledger before anything is staged, so
    a redelivered batch is a metadata no-op. The commit itself is the
    snaptable single-rename publish — a batch's rows become visible
    atomically or not at all; a crash between data staging and the
    manifest rename leaves only an unreferenced data dir that
    ``vacuum`` reclaims, and the redelivery commits cleanly.

    Ledger-retention caveat (the standard table-format txn-retention
    rule): :func:`snaptable.vacuum` drops manifests past its kept
    versions, and the ledger lives in the manifests — retention must
    exceed the source's redelivery horizon or a very late replay
    could double-ingest."""
    from geniepool_etl_spark import snaptable as T

    spark = batch_df.sparkSession
    done = committed_snap_batches(spark, table_path)
    if batch_id in done:
        return
    mode = (
        "append"
        if T.current_version(spark, table_path) is not None
        else "create"
    )
    # each ingest commit carries the CUMULATIVE ledger, so the next
    # batch's check is ONE head-manifest read instead of an
    # O(versions) walk — the walk only recurs after a non-ingest
    # commit (compact/merge) lands at head and the chain re-seeds
    T.write_table(
        batch_df,
        table_path,
        mode,
        props={
            "batch_id": int(batch_id),
            "batch_ledger": sorted(int(b) for b in done | {batch_id}),
        },
    )


def committed_snap_batches(spark: SparkSession, table_path: str) -> set:
    """Batch ids already committed to ``table_path``. Fast path: the
    head manifest's cumulative ``batch_ledger`` (one metadata read).
    Fallback — head written by a non-ingest commit, or a pre-ledger
    table — walks every manifest for its ``batch_id`` stamp
    (O(versions), the cost the rolling ledger exists to avoid)."""
    from geniepool_etl_spark import snaptable as T

    hp = T.head_props(spark, table_path)
    if "batch_ledger" in hp:
        return set(hp["batch_ledger"])
    return T.committed_props(spark, table_path, "batch_id")


def maintain_snap_ingest_stream(
    spark: SparkSession,
    src_dir: str,
    table_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 16,
) -> DataFrame:
    """Streaming ingest INTO a snapshot table: each micro-batch lands
    as one atomic snaptable version (append-by-reference, so batch N
    never rewrites batches 1..N-1), idempotent under redelivery via
    the manifest batch ledger — the streaming twin of the rollup/SCD2
    maintenance lanes, but the standing object is a full
    multi-version TABLE: concurrent readers get snapshot isolation
    and time travel across batch boundaries for free. Returns the
    final table read."""
    from geniepool_etl_spark import snaptable as T

    stream = read_event_stream(spark, src_dir, max_files_per_trigger)
    _drain(
        stream.writeStream.foreachBatch(
            lambda df, bid: ingest_snap_batch(df, bid, table_path)
        ).option("checkpointLocation", checkpoint_dir)
    )
    if T.current_version(spark, table_path) is None:
        raise ValueError(f"no snapshot versions produced in {table_path}")
    return T.read_table(spark, table_path)


def run_snap_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract-entry wrapper: stage documents.parquet as TWO source
    files (one per micro-batch, so the table is built by ≥2 atomic
    versioned commits), drain the stream, then REDELIVER batch 0 by
    hand and assert it was a ledger no-op (the exactly-once claim,
    exercised in the entry itself, not just a unit test). Fresh
    dirs per invocation — re-invocable in one session."""
    from geniepool_etl_spark import snaptable as T

    src = tempfile.mkdtemp(prefix="gp_snapingest_src_")
    for f in glob.glob(os.path.join(sf_dir, "documents.parquet")):
        shutil.copy(f, os.path.join(src, "a.parquet"))
        shutil.copy(f, os.path.join(src, "b.parquet"))
    table = os.path.join(tempfile.mkdtemp(prefix="gp_snapingest_t_"), "t")
    ckpt = tempfile.mkdtemp(prefix="gp_snapingest_ckpt_")
    maintain_snap_ingest_stream(
        spark, src, table, ckpt, max_files_per_trigger=1
    )
    v_before = T.current_version(spark, table)
    # simulated at-least-once redelivery of the first batch
    ingest_snap_batch(spark.read.parquet(src).limit(1), 0, table)
    if T.current_version(spark, table) != v_before:
        raise AssertionError(
            "snap ingest: redelivered batch 0 was not a ledger no-op"
        )
    return T.read_table(spark, table)


def merge_scd2_version(
    batch_df: DataFrame,
    epoch_id: int,
    standing_path: str,
    keep_versions: int = 3,
) -> None:
    """One version step of streaming SCD2 maintenance: apply the
    micro-batch's change rows to the latest standing history version
    < ``epoch_id`` (``operators.upsert.scd2_apply_batch`` — O(batch),
    the first batch bootstraps via the full build) and overwrite
    ``v=<epoch_id>``. Pure function of (predecessor version, batch):
    foreachBatch redelivery recomputes identical bytes, the same
    exactly-once-without-a-ledger recipe as
    :func:`merge_rollup_version`."""
    from geniepool_etl_spark.operators.upsert import (
        scd2_apply_batch, scd2_from_changelog,
    )

    log = E.with_event_time(batch_df).select(
        "user_id", "ts_us", "event_type", "event_id"
    )
    cols = dict(key="user_id", ts_col="ts_us", attr="event_type",
                id_col="event_id")
    _version_step(
        batch_df.sparkSession, epoch_id, standing_path, keep_versions,
        lambda standing: scd2_from_changelog(log, **cols)
        if standing is None
        else scd2_apply_batch(standing, log, **cols),
    )


def maintain_scd2_stream(
    spark: SparkSession,
    src_dir: str,
    standing_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Streaming SCD2 maintenance: each micro-batch's change-log rows
    merge into a batch-id-versioned standing history. The append-only
    precondition of ``scd2_apply_batch`` (a batch never rewrites the
    past) holds by construction for a time-ordered file stream —
    Spark's file source drains oldest-modified first, so slices apply
    in event-time order. Returns the final standing history."""
    return _maintain_versions(
        spark, src_dir, standing_path, checkpoint_dir,
        max_files_per_trigger, "scd2",
        lambda df, bid: merge_scd2_version(df, bid, standing_path),
    )


def run_scd2_stream(
    spark: SparkSession, sf_dir: str, split_us: int
) -> DataFrame:
    """Contract-entry wrapper for :func:`maintain_scd2_stream`: stage
    the events log as TWO disjoint time-slices (before/after
    ``split_us``), mtime-ordered so the file source drains the early
    slice first, one file per micro-batch — the standing history is
    genuinely built by an incremental merge, not a single batch.
    Fresh dirs per invocation — re-invocable in one session."""
    from geniepool_etl_spark.functions import event_micros

    src = tempfile.mkdtemp(prefix="gp_scd2_src_")
    enable_nanos_as_long(spark)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    us = event_micros(events, "ts")
    now = time.time()
    for i, (name, frame) in enumerate(
        [
            ("a_early.parquet", events.where(us < split_us)),
            ("b_late.parquet", events.where(us >= split_us)),
        ]
    ):
        stage = tempfile.mkdtemp(prefix="gp_scd2_stage_")
        frame.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = os.path.join(src, name)
        shutil.move(part, dst)
        # oldest-first drain order is keyed on mtime — pin it
        os.utime(dst, (now - 100 + i, now - 100 + i))
    standing = tempfile.mkdtemp(prefix="gp_scd2_standing_")
    ckpt = tempfile.mkdtemp(prefix="gp_scd2_ckpt_")
    return maintain_scd2_stream(spark, src, standing, ckpt)


def run_sliding_stream(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Sliding-window aggregation under readStream (complete-mode
    memory sink): overlapping windows work unchanged in Structured
    Streaming, but DISTINCT aggregates do not — so the streamed
    variant carries count + sum (the batch ``sliding_agg``'s
    ``count_distinct(user_id)`` is the documented delta; streaming
    distincts need an HLL sketch column instead — which
    :func:`run_sliding_hll_stream` now provides, tolerance-checked)."""
    src = _stage_events_src(sf_dir)
    stream = read_event_stream(spark, src)
    from pyspark.sql import functions as F

    e = E.with_event_time(stream)
    win = F.window(
        F.col("event_time"), "3600000000 microseconds",
        "1800000000 microseconds",
    )
    out = (
        e.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "n_events",
            "sum_value",
        )
    )
    return _drain_to_memory(out, name, "complete")


def merge_countmin_version(
    batch_df: DataFrame,
    epoch_id: int,
    standing_path: str,
    key_expr: str = "user_id % 300",
    depth: int = 4,
    width: int = 256,
    keep_versions: int = 3,
) -> None:
    """One version step of streaming count-min maintenance: fold the
    micro-batch's keys into a (d, b, c) partial sketch
    (``operators.sketch.countmin_partial``) and elementwise-SUM it
    into the latest standing version < ``epoch_id`` — the sketch
    merge law IS the streaming maintenance operation. Pure function
    of (predecessor version, batch): foreachBatch redelivery
    recomputes identical bytes — the same
    exactly-once-without-a-ledger recipe as
    :func:`merge_rollup_version`."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.operators.sketch import countmin_partial

    p = countmin_partial(
        batch_df.select(F.expr(key_expr).alias("key")),
        "key",
        depth=depth,
        width=width,
    )
    _version_step(
        batch_df.sparkSession, epoch_id, standing_path, keep_versions,
        lambda standing: p if standing is None else (
            standing.unionByName(p)
            .groupBy("d", "b")
            .agg(F.sum("c").alias("c"))
        ),
    )


def maintain_countmin_stream(
    spark: SparkSession,
    src_dir: str,
    standing_path: str,
    checkpoint_dir: str,
    key_expr: str = "user_id % 300",
    depth: int = 4,
    width: int = 256,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Streaming sketch-table maintenance: each micro-batch folds into
    a standing count-min sketch via :func:`merge_countmin_version`.
    The standing state is ``depth × width`` counters TOTAL — constant
    size no matter how much data streams through — which is the whole
    reason a sketch is the right standing aggregate for heavy-hitter
    serving at 100 TB. Returns the final standing sketch (d, b, c)."""
    return _maintain_versions(
        spark, src_dir, standing_path, checkpoint_dir,
        max_files_per_trigger, "sketch",
        lambda df, bid: merge_countmin_version(
            df, bid, standing_path,
            key_expr=key_expr, depth=depth, width=width,
        ),
    )


def run_countmin_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract-entry wrapper for :func:`maintain_countmin_stream`:
    stage the events parquet as TWO source files drained one per
    micro-batch, so the standing sketch really is built by ≥2
    SUM-merges — and because sketch(A ∪ B) = sketch(A) + sketch(B),
    the result must equal the one-shot sketch of the doubled log,
    which is exactly what the oracle computes. Fresh dirs per
    invocation — re-invocable in one session."""
    src = _stage_events_src(sf_dir, copies=2)
    standing = tempfile.mkdtemp(prefix="gp_cm_standing_")
    ckpt = tempfile.mkdtemp(prefix="gp_cm_ckpt_")
    return maintain_countmin_stream(spark, src, standing, ckpt)


def run_sliding_hll_stream(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Sliding windows WITH a distinct-user count under readStream —
    closing :func:`run_sliding_stream`'s documented delta ("streaming
    cannot run count_distinct"): the streamable distinct is the HLL
    estimate (``approx_count_distinct`` is an incremental aggregate,
    legal in streaming where the exact distinct is not). Following the
    a7/a13 convention for engine-specific estimates, the checkable
    output is the EXACT per-window distinct (batch cross-check join —
    the same approximate-vs-exact instrument shape as the ANN recall
    entries) plus a boolean asserting the streamed HLL landed within
    5% relative error; the oracle computes the exact count and expects
    ``within_tol = true``."""
    from pyspark.sql import functions as F

    src = _stage_events_src(sf_dir)
    stream = read_event_stream(spark, src)
    e = E.with_event_time(stream)
    win = F.window(
        F.col("event_time"), "3600000000 microseconds",
        "1800000000 microseconds",
    )
    out = (
        e.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "n_events",
            "approx_users",
        )
    )
    streamed = _drain_to_memory(out, name, "complete")
    ev = E.with_event_time(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )
    half = 1_800_000_000
    shifted = ev.select(
        "user_id",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("_i"),
        F.expr(f"ts_us div {half}").alias("_b"),
    ).select(
        "user_id",
        ((F.col("_b") - F.col("_i")) * half).alias("w_start_us"),
    )
    exact = shifted.groupBy("w_start_us").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return streamed.join(exact, "w_start_us").select(
        "w_start_us",
        "n_events",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            < 0.05
        ).alias("within_tol"),
    )


def merge_loghist_version(
    batch_df: DataFrame,
    epoch_id: int,
    standing_path: str,
    cents_expr: str = "CAST(round(value * 100) AS LONG)",
    keep_versions: int = 3,
) -> None:
    """One version step of streaming quantile-sketch maintenance:
    fold the micro-batch's values into an (idx, n) log-histogram
    partial (``operators.sketch.loghist_partial``) and SUM-merge it
    into the latest standing version < ``epoch_id`` — identical
    exactly-once recipe to :func:`merge_countmin_version`; together
    they keep the full mergeable-sketch triad maintainable under
    streaming (HLL distinct is a native streaming aggregate
    already)."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.operators.sketch import loghist_partial

    p = loghist_partial(
        batch_df.select(F.expr(cents_expr).alias("cents")), "cents"
    )
    _version_step(
        batch_df.sparkSession, epoch_id, standing_path, keep_versions,
        lambda standing: p if standing is None else (
            standing.unionByName(p).groupBy("idx").agg(F.sum("n").alias("n"))
        ),
    )


def run_loghist_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract-entry wrapper: stream the events file as TWO
    micro-batches into a standing log-histogram, then answer
    p50/p90/p99 from the final sketch — because partials SUM-merge,
    the standing sketch equals the one-shot sketch of the doubled
    log, so the quantile answers are exactly what the oracle computes
    from the doubled value distribution. Fresh dirs per invocation."""
    src = _stage_events_src(sf_dir, copies=2)
    standing = tempfile.mkdtemp(prefix="gp_lh_standing_")
    ckpt = tempfile.mkdtemp(prefix="gp_lh_ckpt_")
    from geniepool_etl_spark.operators.sketch import (
        loghist_quantiles_from_sketch,
    )

    return loghist_quantiles_from_sketch(
        _maintain_versions(
            spark, src, standing, ckpt, 1, "sketch",
            lambda df, bid: merge_loghist_version(df, bid, standing),
        )
    )

