"""SparkSession factory with scale-oriented defaults.

The reference sets no Spark conf at all (reference M:33) and relies on
engine defaults. We pin the handful of settings that matter for both
local testing and a large cluster:

- AQE on (runtime coalescing, skew-join mitigation) — free protection
  against hot-key skew (e.g. hot chromosomes; SURVEY.md §4).
- Arrow enabled for the few pandas-interop paths.
- ANSI *off*: the reference was built on Spark 2.4 permissive-cast
  semantics (malformed ``pos``/``qual`` become null, string↔int join
  keys coerce silently — SURVEY.md §4 deltas 1-2). We make the policy
  explicit here instead of sprinkling try_cast everywhere, and the
  readers still normalize join-key dtypes explicitly.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "geniepool-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's defaults, or return the
    running one unchanged.

    The confs apply only when this call creates the session:
    ``Builder.getOrCreate`` would re-apply them to a live session,
    silently resetting settings its owner chose (a CLI subcommand run
    inside a test session would override the test's confs).

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so
    the same entry points work under the driver harness and on a real
    cluster (where ``master`` comes from spark-submit instead).
    """
    live = SparkSession._instantiatedSession
    if live is not None and live._sc._jsc is not None:
        # the same liveness test getOrCreate uses before reusing
        return live
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        # honor an externally-provided master (e.g. a cluster URL);
        # fall back to local[$SPARK_GRAFT_CPUS] for the test harness.
        master = os.environ.get("SPARK_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)

    if shuffle_partitions is None:
        # local[N] → N-ish shuffle partitions; clusters should override.
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # parquet scan sizing for the 100 TB target: default 128m splits;
        # local runs are tiny either way.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # answer bare MIN/MAX/COUNT aggregates from parquet footer
        # statistics (no row-group decode) — at 100 TB a table-wide
        # min/max profile becomes a metadata-only scan; the planner
        # applies it only where semantics allow (no filters/distinct).
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # managed (bucketed) tables land under tmp, not the repo;
        # static conf — must be set before the first session exists.
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE",
            os.path.join(tempfile.gettempdir(), "gp_spark_warehouse"),
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def enable_runtime_bloom_filters(
    spark, application_side_min_scan: str = "10GB"
) -> None:
    """Turn on Catalyst's runtime bloom-filter join pruning: for a
    shuffle join whose build side carries a selective filter, the
    optimizer injects a `bloom_filter_agg` subquery on the build keys
    and a `might_contain` predicate on the probe side — probe rows
    that cannot join are dropped BEFORE the shuffle, cutting shuffle
    write/read by the join's selectivity. The 100 TB complement to
    broadcast joins: it applies exactly where the build side is too
    big to broadcast but still selective.

    Injection requires the build side under
    ``runtime.bloomFilter.creationSideThreshold`` (default 10MB) and
    the probe-side scan over ``application_side_min_scan`` — the
    defaults are tuned for cluster scale; tests lower the floor to
    demonstrate the plan shape. Runtime confs, safe to call
    repeatedly."""
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        application_side_min_scan,
    )
