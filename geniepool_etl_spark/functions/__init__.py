"""Engine-portable scalar helpers shared by the operator library.

Two hash families:

- **fast path** (``fast_hash64``): Spark's built-in ``xxhash64`` —
  JVM-side, codegen'd, the default for production pipelines.
- **portable path** (``portable_hash32``): the first 8 hex chars of
  ``md5`` parsed as an integer. Bit-identical in any engine with md5
  (DuckDB: ``CAST(concat('0x', substring(md5(s),1,8)) AS BIGINT)``),
  so correctness oracles can recompute it. ~3× slower than xxhash64;
  use only where cross-engine reproducibility is required.

Time helpers normalize the event timestamp column into integer epoch
micros regardless of how the parquet writer encoded it — nanos-as-long
(TIMESTAMP(NANOS) read under ``spark.sql.legacy.parquet.nanosAsLong``),
TIMESTAMP_NTZ (TIMESTAMP(MICROS, isAdjustedToUTC=false)), or a plain
UTC-adjusted TIMESTAMP — keeping all downstream event-time arithmetic
timezone-proof integer math. The dtype branch lives in ONE place
(:func:`event_micros`); everything else consumes ``ts_us``.

Operators materialize multi-consumer intermediates with Spark's
``localCheckpoint``, which a lost executor cannot recompute, so they
are not safe under dynamic allocation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PORTABLE_HASH_MOD = (1 << 31) - 1  # Mersenne prime 2^31-1


def fast_hash64(col: Column, seed: int = 0) -> Column:
    """xxhash64 with a seed folded in — the production hash."""
    if seed:
        return F.xxhash64(col, F.lit(seed))
    return F.xxhash64(col)


def portable_hash32(col: Column, seed: int = 0) -> Column:
    """Deterministic 32-bit unsigned hash reproducible in any engine:
    ``int(md5(f"{seed}:{s}")[:8], 16)`` as a long in [0, 2^32)."""
    s = F.concat(F.lit(f"{seed}:"), col.cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def portable_hash32_sql(expr: str, seed: int = 0) -> str:
    """The DuckDB-SQL rendering of :func:`portable_hash32`."""
    return (
        f"CAST(concat('0x', substring(md5(concat('{seed}:', CAST({expr} AS VARCHAR)))"
        f", 1, 8)) AS BIGINT)"
    )


def enable_nanos_as_long(spark: SparkSession) -> None:
    """Pin the event-time read path: allow parquet TIMESTAMP(NANOS)
    columns as raw long nanos (Spark's vectorized reader otherwise
    rejects the type with PARQUET_TYPE_ILLEGAL) AND pin the session
    timezone to UTC so the TIMESTAMP_NTZ branch of
    :func:`event_micros` (NTZ→TIMESTAMP cast) is an identity on the
    UTC instant. Safe to call repeatedly; runtime confs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def event_micros(df: DataFrame, ts_col: str = "ts") -> Column:
    """Epoch-micros long from ``ts_col``, adaptive to the column's
    actual dtype — the single normalization point for event time:

    - ``LONG``: raw nanos (parquet TIMESTAMP(NANOS) read under
      ``nanosAsLong``) → integer ``div 1000``.
    - ``TIMESTAMP_NTZ`` (parquet TIMESTAMP(MICROS,
      isAdjustedToUTC=false)): cast NTZ→TIMESTAMP under the session
      timezone — pinned UTC in session.py, so the wall-clock reading IS
      the UTC instant — then ``unix_micros``. (``unix_micros`` rejects
      NTZ directly; the cast is required.)
    - ``TIMESTAMP``: ``unix_micros`` directly.

    Everything downstream (windows, sessions, as-of joins, streaming)
    consumes the resulting exact-integer ``ts_us``, which matches
    DuckDB's ``epoch_us(ts)`` bit-for-bit on every branch.
    """
    dt = df.schema[ts_col].dataType
    c = F.col(ts_col)
    if isinstance(dt, T.LongType):
        # nanos→micros via integer div, never `/` — double division
        # rounds at 1e18 magnitudes and can land one µs high of the
        # floor DuckDB's ns→µs conversion uses
        return F.expr(f"CAST({ts_col} AS LONG) div 1000")
    if isinstance(dt, T.TimestampNTZType):
        # The NTZ→TIMESTAMP cast reads the wall clock under the SESSION
        # timezone; only UTC makes that an identity on the instant. A
        # session that never went through get_spark/enable_nanos_as_long
        # would silently produce tz-shifted micros — fail loud instead.
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise ValueError(
                f"event_micros: TIMESTAMP_NTZ column {ts_col!r} requires "
                f"spark.sql.session.timeZone=UTC (got {tz!r}); call "
                "functions.enable_nanos_as_long(spark) or create the "
                "session with session.get_spark()"
            )
        return F.unix_micros(c.cast("timestamp"))
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(c)
    raise TypeError(
        f"event_micros: unsupported dtype {dt} for column {ts_col!r}; "
        "expected LONG (nanos), TIMESTAMP, or TIMESTAMP_NTZ"
    )


def fan_out_if_narrow(df: DataFrame) -> DataFrame:
    """Scale-adaptive input fan-out (optimization guide §2.5 "input
    skew": one unsplittable input starves every core but one).

    When the frame's physical parallelism is BELOW the session's
    default parallelism — locally that is a single small parquet file
    with one row group, which puts the whole scan+explode map stage on
    one core — add a round-robin repartition of the RAW rows (the
    cheap, pre-explode side) up to the core count. At production
    scale scans are many-split, the gate is false, and this is a
    plan no-op — the exchange never exists where it would be a
    corpus-scale anti-pattern. The check is plan-time metadata only
    (no job runs).

    r17 (ADVICE): the split count is estimated from the frame's
    ``inputFiles()`` + file sizes against ``maxPartitionBytes`` (the
    scan-packing formula) instead of ``df.rdd.getNumPartitions()`` —
    the RDD conversion forced a full physical planning pass per
    invocation and hid analysis errors behind a bare except. Frames
    that are not file-backed (in-memory test frames, post-shuffle
    inputs) return unchanged — their parallelism is already the
    session's, so the fan-out has nothing to fix; estimation errors
    log a warning instead of being swallowed silently.
    """
    import logging

    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        files = df.inputFiles()
        if not files:
            return df
        if len(files) >= target:
            return df
        jvm = sc._jvm
        # Spark's own byte-string parser: accepts '134217728b', '128m',
        # '1g', ... exactly as the scan planner does
        java_utils = jvm.org.apache.spark.network.util.JavaUtils
        max_pb = java_utils.byteStringAsBytes(
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes")
        )
        conf = sc._jsc.hadoopConfiguration()
        splits = 0
        for f in files:
            path = jvm.org.apache.hadoop.fs.Path(f)
            fs = path.getFileSystem(conf)
            size = fs.getFileStatus(path).getLen()
            splits += max(1, -(-size // max_pb))
            if splits >= target:
                return df
    except Exception as exc:  # noqa: BLE001 — estimation must not
        # break the plan; surface it instead of swallowing silently
        logging.getLogger(__name__).warning(
            "fan_out_if_narrow: split estimate failed (%s); "
            "leaving the plan unchanged", exc
        )
        return df
    return df.repartition(target) if splits < target else df
