"""Structured Streaming: the streaming tumbling aggregation must equal
the batch answer, and the watermarked variant must run in append mode.
"""

from __future__ import annotations

import glob
import shutil

import pytest

from geniepool_etl_spark.operators import events as E
from geniepool_etl_spark.streaming import (
    read_event_stream,
    run_tumbling_stream,
    tumbling_counts_stream,
)
from tests.conftest import SF_SMALL


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_equals_batch(spark):
    from geniepool_etl_spark.functions import enable_nanos_as_long

    enable_nanos_as_long(spark)
    batch = E.tumbling_agg(spark.read.parquet(f"{SF_SMALL}/events.parquet"))
    stream_result = run_tumbling_stream(spark, SF_SMALL, name="t_stream_eq")
    assert _rowset(stream_result) == _rowset(batch)


def test_watermarked_append_mode(spark, tmp_path):
    """The watermarked aggregation is append-mode legal (state bounded
    by the watermark) — the 100 TB/day shape."""
    src = tmp_path / "src"
    src.mkdir()
    for f in glob.glob(f"{SF_SMALL}/events.parquet"):
        shutil.copy(f, src)
    stream = read_event_stream(spark, str(src))
    out = tumbling_counts_stream(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("t_stream_append")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # append mode emits only windows the watermark has closed; with a
    # single batch the final (open) windows are withheld — emitted rows
    # must be a subset of the batch answer.
    got = _rowset(spark.table("t_stream_append"))
    full = _rowset(
        E.tumbling_agg(spark.read.parquet(f"{SF_SMALL}/events.parquet"))
    )
    assert set(got) <= set(full)


def test_stream_to_lake_ingest(spark, tmp_path):
    """foreachBatch incremental ingest: all rows land partitioned by
    day; a re-run against the same checkpoint ingests nothing new."""
    from geniepool_etl_spark.streaming import stream_events_to_lake

    src = tmp_path / "src"
    src.mkdir()
    for f in glob.glob(f"{SF_SMALL}/events.parquet"):
        shutil.copy(f, src)
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    stream_events_to_lake(spark, str(src), lake, ckpt)
    n_src = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    out = spark.read.parquet(lake)
    assert out.count() == n_src
    assert "day_bucket" in out.columns

    # idempotent resume: same checkpoint, no new files → no new rows
    stream_events_to_lake(spark, str(src), lake, ckpt)
    assert spark.read.parquet(lake).count() == n_src


def test_ingest_batch_write_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering the same batch_id
    must replace, not duplicate (dynamic partition overwrite on
    (day_bucket, ingest_batch))."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.functions import enable_nanos_as_long
    from geniepool_etl_spark.streaming import _write_ingest_batch

    enable_nanos_as_long(spark)
    lake = str(tmp_path / "lake")
    ev = E.with_event_time(
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ).withColumn("day_bucket", F.expr("ts_us div 86400000000"))
    n = ev.count()

    _write_ingest_batch(ev, 0, lake)
    _write_ingest_batch(ev, 0, lake)  # retry of the same batch
    assert spark.read.parquet(lake).count() == n

    _write_ingest_batch(ev, 1, lake)  # a genuinely new batch appends
    assert spark.read.parquet(lake).count() == 2 * n


def test_bounded_batches_and_compaction(spark, tmp_path):
    """maxFilesPerTrigger bounds the files per micro-batch (two source
    files at 1 per trigger → ≥2 ingest batches), and compacting a day
    collapses its per-batch files without changing its contents."""
    import glob as _g
    import os

    from geniepool_etl_spark.streaming import (
        compact_day_partition,
        stream_events_to_lake,
    )

    src = tmp_path / "src"
    src.mkdir()
    for f in glob.glob(f"{SF_SMALL}/events.parquet"):
        shutil.copy(f, src / "a.parquet")
        shutil.copy(f, src / "b.parquet")
    lake = str(tmp_path / "lake")
    stream_events_to_lake(
        spark, str(src), lake, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    out = spark.read.parquet(lake)
    n = out.count()
    assert out.select("ingest_batch").distinct().count() >= 2

    day_dirs = _g.glob(os.path.join(lake, "day_bucket=*"))
    assert day_dirs
    before = len(_g.glob(os.path.join(day_dirs[0], "*", "*.parquet")))
    day = int(os.path.basename(day_dirs[0]).split("=")[1])
    compact_day_partition(spark, lake, day)
    after = len(_g.glob(os.path.join(day_dirs[0], "*", "*.parquet")))
    assert after <= before
    assert spark.read.parquet(lake).count() == n


def test_streaming_sessionization_equals_batch(spark, tmp_path):
    """session_window under readStream (update mode) must produce the
    batch session answer when everything fits one micro-batch."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.streaming import sessionized_stream

    src = tmp_path / "src"
    src.mkdir()
    for f in glob.glob(f"{SF_SMALL}/events.parquet"):
        shutil.copy(f, src)
    out = sessionized_stream(read_event_stream(spark, str(src)))
    # session windows stream in APPEND mode only: a session is emitted
    # once the watermark passes its end + gap, so after the real data a
    # far-future flush event advances the watermark and closes them all
    q = (
        out.writeStream.format("memory")
        .queryName("t_stream_session")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        import datetime

        from pyspark.sql import types as T

        from geniepool_etl_spark.functions import event_micros

        src_df = spark.read.parquet(f"{SF_SMALL}/events.parquet")
        max_us = src_df.select(
            F.max(event_micros(src_df, "ts")).alias("m")
        ).collect()[0]["m"]
        flush_us = max_us + 24 * 3600 * 1_000_000
        # flush event in the SOURCE's own ts encoding (nanos-long or
        # timestamp): the appended file must match the stream schema
        if isinstance(src_df.schema["ts"].dataType, T.LongType):
            flush_ts = flush_us * 1000
        else:
            flush_ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(
                microseconds=flush_us
            )
        spark.createDataFrame(
            [(10**9, flush_ts, -1, "flush", 0.0, "{}")],
            schema=src_df.schema,
        ).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    got = _rowset(
        spark.table("t_stream_session").where("user_id >= 0")
    )

    from geniepool_etl_spark.functions import enable_nanos_as_long

    enable_nanos_as_long(spark)
    ev = E.with_event_time(spark.read.parquet(f"{SF_SMALL}/events.parquet"))
    batch = (
        ev.groupBy(
            F.session_window(F.col("event_time"), "30 minutes").alias("w"),
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
    assert got == _rowset(batch)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """A duplicated source file must not duplicate rows downstream:
    dropDuplicatesWithinWatermark keeps one row per event_id."""
    from geniepool_etl_spark.streaming import dedup_stream

    src = tmp_path / "src"
    src.mkdir()
    for f in glob.glob(f"{SF_SMALL}/events.parquet"):
        shutil.copy(f, src / "a.parquet")
        shutil.copy(f, src / "b.parquet")  # full replay of the same data
    out = dedup_stream(read_event_stream(spark, str(src)))
    q = (
        out.writeStream.format("memory")
        .queryName("t_stream_dedup")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_distinct = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("event_id")
        .distinct()
        .count()
    )
    assert spark.table("t_stream_dedup").count() == n_distinct


def test_stream_stream_attribution_join(spark, tmp_path):
    """Watermarked stream-stream join equals the batch join when all
    data arrives in one micro-batch."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.streaming import clicks_to_purchases_stream

    src = tmp_path / "src"
    src.mkdir()
    for f in glob.glob(f"{SF_SMALL}/events.parquet"):
        shutil.copy(f, src)
    out = clicks_to_purchases_stream(read_event_stream(spark, str(src)))
    q = (
        out.writeStream.format("memory")
        .queryName("t_stream_join")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = _rowset(spark.table("t_stream_join"))

    from geniepool_etl_spark.functions import enable_nanos_as_long

    enable_nanos_as_long(spark)
    ev = E.with_event_time(spark.read.parquet(f"{SF_SMALL}/events.parquet"))
    clicks = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts_us").alias("click_us"),
    )
    purchases = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("purchase_us"),
    )
    within = 2 * E.US_PER_HOUR
    batch = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_us") <= F.col("purchase_us"))
        & (F.col("click_us") >= F.col("purchase_us") - F.lit(within)),
    ).select("p_user", "purchase_id", "click_id", "purchase_us", "click_us")
    assert got == _rowset(batch)


def test_stateful_running_counts(spark, tmp_path):
    """applyInPandasWithState: after one micro-batch the per-user state
    equals the batch groupBy answer."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.streaming.stateful import running_user_counts

    src = tmp_path / "src"
    src.mkdir()
    for f in glob.glob(f"{SF_SMALL}/events.parquet"):
        shutil.copy(f, src)
    stream = read_event_stream(spark, str(src))
    out = running_user_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.table("t_stateful").collect()
    }
    batch = {
        r.user_id: (r.n, r.s)
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
        .collect()
    }
    assert got == batch


def _build_lake(spark, tmp_path, name):
    """Small two-batch lake for compaction crash tests."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.streaming import _write_ingest_batch

    ev = E.with_event_time(
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ).withColumn("day_bucket", F.expr("ts_us div 86400000000"))
    lake = str(tmp_path / name)
    _write_ingest_batch(ev, 0, lake)
    _write_ingest_batch(ev, 1, lake)
    return lake


def test_compaction_crash_after_stage_leaves_live_untouched(spark, tmp_path):
    """Driver death after staging+marker but before any swap rename:
    the live partition was never touched and stays readable; recovery
    clears the orphaned staging."""
    import glob as _g
    import os

    import pytest

    from geniepool_etl_spark.streaming import (
        compact_day_partition,
        recover_compaction,
    )

    lake = _build_lake(spark, tmp_path, "lake_stage_crash")
    n = spark.read.parquet(lake).count()
    day_dirs = _g.glob(os.path.join(lake, "day_bucket=*"))
    day = int(os.path.basename(day_dirs[0]).split("=")[1])

    with pytest.raises(RuntimeError, match="injected"):
        compact_day_partition(spark, lake, day, _crash_point="after_stage")
    # live tree fully readable, nothing lost (staging is _-hidden)
    assert spark.read.parquet(lake).count() == n
    recover_compaction(spark, lake)
    assert spark.read.parquet(lake).count() == n
    assert not _g.glob(os.path.join(lake, "_compact", "staging", "*"))


def test_compaction_crash_mid_swap_recovers_readable(spark, tmp_path):
    """Driver death in the WORST window — live renamed to trash, staged
    data not yet moved in (the partition is momentarily absent):
    recover_compaction rolls forward to the verified compacted data and
    the lake reads back with the original row count."""
    import glob as _g
    import os

    import pytest

    from geniepool_etl_spark.streaming import (
        compact_day_partition,
        recover_compaction,
    )

    lake = _build_lake(spark, tmp_path, "lake_swap_crash")
    n = spark.read.parquet(lake).count()
    day_dirs = sorted(_g.glob(os.path.join(lake, "day_bucket=*")))
    day = int(os.path.basename(day_dirs[0]).split("=")[1])
    part_n = spark.read.parquet(day_dirs[0]).count()

    with pytest.raises(RuntimeError, match="injected"):
        compact_day_partition(spark, lake, day, _crash_point="mid_swap")
    # the partition is absent right now — recovery must bring it back
    assert not os.path.isdir(day_dirs[0])
    recover_compaction(spark, lake)
    assert spark.read.parquet(lake).count() == n
    # rolled FORWARD: the recovered partition is the compacted layout
    assert spark.read.parquet(day_dirs[0]).count() == part_n
    files = _g.glob(os.path.join(day_dirs[0], "ingest_batch=-1", "*.parquet"))
    assert len(files) == 1
    # and a subsequent compaction over the settled lake still works
    compact_day_partition(spark, lake, day)
    assert spark.read.parquet(lake).count() == n


def test_compaction_is_idempotent_and_clean(spark, tmp_path):
    """Happy path over the Hadoop FS implementation: contents
    unchanged, per-batch files collapsed, no staging/trash residue,
    and re-running is a no-op."""
    import glob as _g
    import os

    from geniepool_etl_spark.streaming import compact_day_partition

    lake = _build_lake(spark, tmp_path, "lake_happy")
    n = spark.read.parquet(lake).count()
    for d in sorted(_g.glob(os.path.join(lake, "day_bucket=*"))):
        day = int(os.path.basename(d).split("=")[1])
        compact_day_partition(spark, lake, day)
        compact_day_partition(spark, lake, day)
    assert spark.read.parquet(lake).count() == n
    for d in sorted(_g.glob(os.path.join(lake, "day_bucket=*"))):
        assert len(_g.glob(os.path.join(d, "*", "*.parquet"))) == 1
    assert not _g.glob(os.path.join(lake, "_compact", "*", "*"))


def test_streaming_rollup_maintenance_equals_batch(spark, tmp_path):
    """foreachBatch rollup maintenance must converge to the batch
    recompute over all data, across multiple micro-batches; replaying
    a batch merge (at-least-once redelivery) must be idempotent
    because versions are keyed by batch id."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.streaming import maintain_rollup_stream

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    src = tmp_path / "src"
    src.mkdir()
    # two source FILES at the top level (the file stream does not
    # recurse into per-write directories) -> maxFilesPerTrigger=1
    # forces >=2 micro-batches
    for tag, pred in (("a", "event_id % 2 = 0"), ("b", "event_id % 2 = 1")):
        d = tmp_path / f"half_{tag}"
        ev.where(pred).coalesce(1).write.parquet(str(d))
        part = glob.glob(str(d / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{tag}.parquet")

    standing = str(tmp_path / "standing")
    got = {
        r.user_id: (r.n_events, r.sum_cents, r.min_value, r.max_value)
        for r in maintain_rollup_stream(
            spark, str(src), standing, str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
        ).collect()
    }
    cents = F.round(F.col("value") * 100).cast("long")
    want = {
        r.user_id: (r.n_events, r.sum_cents, r.min_value, r.max_value)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("sum_cents"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert got == want
    # versioned standing table: multiple v= dirs, latest is the answer
    import os

    versions = sorted(
        d for d in os.listdir(standing) if d.startswith("v=")
    )
    assert len(versions) >= 2


def test_rollup_version_replay_is_idempotent(spark, tmp_path):
    """The exactly-once claim, asserted directly: replaying a batch
    merge with the same epoch id (foreachBatch redelivery) recomputes
    from the same predecessor and leaves the rollup unchanged; a
    LATER epoch then builds on it correctly."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.streaming import merge_rollup_version

    standing = str(tmp_path / "standing")
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    b0 = ev.where("event_id % 2 = 0")
    b1 = ev.where("event_id % 2 = 1")

    def snapshot(v):
        return {
            r.user_id: (r.n_events, r.sum_cents)
            for r in spark.read.parquet(f"{standing}/v={v}").collect()
        }

    merge_rollup_version(b0, 0, standing)
    merge_rollup_version(b1, 1, standing)
    after_once = snapshot(1)
    merge_rollup_version(b1, 1, standing)  # redelivery of epoch 1
    assert snapshot(1) == after_once
    merge_rollup_version(ev.limit(0), 2, standing)  # empty later epoch
    cents = F.round(F.col("value") * 100).cast("long")
    want = {
        r.user_id: (r.n, r.s)
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("s"))
        .collect()
    }
    assert snapshot(2) == want


def test_slowly_changing_dim_refresh_via_foreachbatch(spark, tmp_path):
    """Slowly-changing-dimension refresh for a streaming enrichment:
    the dim join must happen INSIDE foreachBatch (re-read per batch).
    The tempting alternative — a stream-static join against a
    DataFrame built once, with the dim overwritten in place — does
    NOT refresh: the static side's file index is cached at plan time,
    and the overwrite deletes files out from under later batches
    (observed: FAILED_READ_FILE.FILE_NOT_EXIST). Per-batch re-read
    picks up the new snapshot with no stream restart."""

    dim = str(tmp_path / "dim")
    spark.createDataFrame(
        [(i, "old") for i in range(150)], "user_id LONG, seg STRING"
    ).write.mode("overwrite").parquet(dim)

    src = tmp_path / "src"
    src.mkdir()
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    d0 = tmp_path / "h0"
    ev.where("event_id % 2 = 0").coalesce(1).write.parquet(str(d0))
    shutil.copy(glob.glob(str(d0 / "part-*.parquet"))[0], src / "a.parquet")

    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    seen = []

    def enrich_batch(df, bid):
        enriched = df.join(spark.read.parquet(dim), "user_id", "left")
        seen.append(
            set(r.seg for r in enriched.select("seg").distinct().collect())
        )

    q = (
        stream.writeStream.foreachBatch(enrich_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # swap the dim snapshot, then deliver a second batch
        spark.createDataFrame(
            [(i, "new") for i in range(150)], "user_id LONG, seg STRING"
        ).write.mode("overwrite").parquet(dim)
        d1 = tmp_path / "h1"
        ev.where("event_id % 2 = 1").coalesce(1).write.parquet(str(d1))
        shutil.copy(
            glob.glob(str(d1 / "part-*.parquet"))[0], src / "b.parquet"
        )
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen[0] == {"old"}
    assert seen[-1] == {"new"}


def test_scd2_version_replay_is_idempotent(spark, tmp_path):
    """Streaming SCD2 exactly-once, asserted directly: replaying an
    epoch's merge recomputes identical history; an empty later epoch
    changes nothing; the final version equals the full-log batch
    rebuild."""
    from geniepool_etl_spark.operators.events import with_event_time
    from geniepool_etl_spark.operators.upsert import scd2_from_changelog
    from geniepool_etl_spark.streaming import merge_scd2_version

    standing = str(tmp_path / "scd2_standing")
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    e = with_event_time(ev)
    split_us = int(e.agg({"ts_us": "avg"}).first()[0])
    b_early = ev.join(
        e.where(e.ts_us < split_us).select("event_id"), "event_id", "semi"
    )
    b_late = ev.join(
        e.where(e.ts_us >= split_us).select("event_id"), "event_id", "semi"
    )

    def snapshot(v):
        return sorted(
            (r.user_id, r.version, r.event_type, r.valid_from_us,
             r.valid_to_us, r.is_current)
            for r in spark.read.parquet(f"{standing}/v={v}").collect()
        )

    merge_scd2_version(b_early, 0, standing)
    merge_scd2_version(b_late, 1, standing)
    after_once = snapshot(1)
    merge_scd2_version(b_late, 1, standing)  # redelivery of epoch 1
    assert snapshot(1) == after_once
    merge_scd2_version(ev.limit(0), 2, standing)  # empty later epoch
    want = sorted(
        (r.user_id, r.version, r.event_type, r.valid_from_us,
         r.valid_to_us, r.is_current)
        for r in scd2_from_changelog(
            e, key="user_id", ts_col="ts_us", attr="event_type",
            id_col="event_id",
        ).collect()
    )
    assert snapshot(2) == want


def test_countmin_stream_merge_equals_global_and_replays(spark, tmp_path):
    """The streaming sketch invariants, asserted directly: (1) two
    micro-batch SUM-merges converge to the one-shot sketch of all
    data (the merge law); (2) replaying an epoch (foreachBatch
    redelivery) leaves the standing sketch unchanged."""
    from geniepool_etl_spark.operators.sketch import countmin_partial
    from geniepool_etl_spark.streaming import (
        maintain_countmin_stream,
        merge_countmin_version,
    )

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    src = tmp_path / "src"
    src.mkdir()
    for tag, pred in (("a", "event_id % 2 = 0"), ("b", "event_id % 2 = 1")):
        d = tmp_path / f"half_{tag}"
        ev.where(pred).coalesce(1).write.parquet(str(d))
        part = glob.glob(str(d / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{tag}.parquet")

    standing = str(tmp_path / "standing")
    got = {
        (r.d, r.b): r.c
        for r in maintain_countmin_stream(
            spark, str(src), standing, str(tmp_path / "ckpt")
        ).collect()
    }
    from pyspark.sql import functions as F

    want = {
        (r.d, r.b): r.c
        for r in countmin_partial(
            ev.select(F.expr("user_id % 300").alias("key")), "key"
        ).collect()
    }
    assert got == want

    # replay: redelivering epoch 1 must not change the standing sketch
    standing2 = str(tmp_path / "standing2")
    b0 = ev.where("event_id % 2 = 0")
    b1 = ev.where("event_id % 2 = 1")
    merge_countmin_version(b0, 0, standing2)
    merge_countmin_version(b1, 1, standing2)

    def snap(v):
        return {
            (r.d, r.b): r.c
            for r in spark.read.parquet(f"{standing2}/v={v}").collect()
        }

    once = snap(1)
    merge_countmin_version(b1, 1, standing2)  # redelivery
    assert snap(1) == once and once == want


def test_snap_ingest_stream_resumes_from_checkpoint(spark, tmp_path):
    """Restarting the file-source snapshot ingest with the same
    checkpoint must ingest ONLY files that arrived since the last
    run — one new atomic version, no re-ingest of drained batches."""
    import shutil

    from geniepool_etl_spark import snaptable as T
    from geniepool_etl_spark.streaming import maintain_snap_ingest_stream
    from tests.conftest import SF_SMALL

    src = str(tmp_path / "src")
    import os

    os.makedirs(src)
    shutil.copy(f"{SF_SMALL}/documents.parquet", f"{src}/a.parquet")
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    out1 = maintain_snap_ingest_stream(spark, src, table, ckpt)
    n1 = out1.count()
    v1 = T.current_version(spark, table)
    # a new file lands; the SAME checkpoint resumes, not re-ingests
    shutil.copy(f"{SF_SMALL}/documents.parquet", f"{src}/b.parquet")
    out2 = maintain_snap_ingest_stream(spark, src, table, ckpt)
    assert out2.count() == 2 * n1
    assert T.current_version(spark, table) == v1 + 1


def test_snap_change_stream_partitioned_and_rewrite_guard(spark, tmp_path):
    """gp_snap_changes over a hive-PARTITIONED snapshot table: the
    executor-side pyarrow read reconstructs partition values from the
    col=value path segments WITH the declared dtype; a delete landing
    between micro-batches streams its write-time change rows (r12 —
    exact net deletes, not a failure); schema-evolved parent files
    null-fill."""
    import pytest
    from pyspark.sql import functions as F

    from geniepool_etl_spark import snaptable as T
    from geniepool_etl_spark.sources import snapsource

    snapsource.register(spark)
    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    base = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p")
    )
    T.write_table(base, t, "create", partition_by=("p",), target_files=1)

    # one sink dir PER RUN (same checkpoint): each restart re-resolves
    # the source schema from the current head, so a schema-evolved
    # table writes WIDER (non-nullable) parquet into the sink — mixed
    # footers in one dir are unreadable even with mergeSchema
    def run_once(out):
        q = (
            spark.readStream.format("gp_snap_changes")
            .option("path", t)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(once=True)
            .start()
        )
        q.awaitTermination()

    out1 = str(tmp_path / "out1")
    run_once(out1)
    got = spark.read.parquet(out1)
    assert got.count() == 40
    # partition dtype survived the path round-trip (long, not string)
    assert dict(got.dtypes)["p"] == "bigint"
    assert got.where("p = 2").count() == 10
    assert {r._commit_version for r in got.collect()} == {0}
    assert {r._change_type for r in got.collect()} == {"insert"}

    # schema-evolved append: new column, old files null-fill
    T.write_table(
        spark.range(40, 50).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("p"),
            F.lit("x").alias("tag"),
        ),
        t,
        "append",
        evolve_schema=True,
        target_files=1,
    )
    out2 = str(tmp_path / "out2")
    run_once(out2)
    # glob past the sink's _spark_metadata: this dir holds batch 1
    # only, and the sink-aware reader demands a contiguous log from 0
    got2 = spark.read.parquet(out2 + "/part-*.parquet")
    # only the new commit's rows (offsets survived the checkpoint)
    assert got2.count() == 10
    assert {r._commit_version for r in got2.collect()} == {1}
    assert {r._change_type for r in got2.collect()} == {"insert"}

    # rewrite between batches: since r12 the delete's write-time
    # change rows stream — exactly the net deletes, typed
    T.delete_where(spark, t, "k = 3")
    out3 = str(tmp_path / "out3")
    run_once(out3)
    rows = spark.read.parquet(out3 + "/part-*.parquet").collect()
    assert len(rows) == 1
    assert rows[0].k == 3 and rows[0]._change_type == "delete"
    assert rows[0]._commit_version == 2

    # DELETION-VECTOR delete between batches (r12): mode='dv' stages
    # the same write-time change rows, so the feed is mode-agnostic —
    # the stream sees the net deletes although NO data file moved
    T.delete_where(spark, t, "k IN (7, 11)", mode="dv")
    out4 = str(tmp_path / "out4")
    run_once(out4)
    rows4 = spark.read.parquet(out4 + "/part-*.parquet").collect()
    assert sorted(r.k for r in rows4) == [7, 11]
    assert {r._change_type for r in rows4} == {"delete"}
    assert {r._commit_version for r in rows4} == {3}


def test_snap_change_stream_initial_load_skips_history_rewrites(
    spark, tmp_path
):
    """Regression: a stream STARTED on a table whose history contains
    a rewrite must deliver the current snapshot once (Delta initial-
    load rule), not a file-diff replay that double-emits pre-rewrite
    rows."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark import snaptable as T
    from geniepool_etl_spark.sources import snapsource

    snapsource.register(spark)
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = spark.range(0, 30).select(F.col("id").alias("k"))
    T.write_table(base.repartition(3), t, "create")
    T.delete_where(spark, t, "k >= 25")   # rewrite in history
    T.compact(spark, t, target_files=1)   # another rewrite
    q = (
        spark.readStream.format("gp_snap_changes")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(once=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 25  # current snapshot exactly once
    assert sorted(r.k for r in got.collect()) == list(range(25))


def test_snap_change_stream_escaped_partition_values(spark, tmp_path):
    """Regression: the change stream must read hive-escaped partition
    directories ('a:b' → 'a%3Ab' on disk) — one unquote of the
    fs-real segment recovers the typed value."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark import snaptable as T
    from geniepool_etl_spark.sources import snapsource

    snapsource.register(spark)
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    rows = [(1, "a:b"), (2, "new york"), (3, "plain")]
    df = spark.createDataFrame(rows, "k long, city string")
    T.write_table(df, t, "create", partition_by=("city",), target_files=1)
    q = (
        spark.readStream.format("gp_snap_changes")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(once=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert sorted((r.k, r.city) for r in got.collect()) == sorted(rows)
