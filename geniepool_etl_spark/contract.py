"""Driver-contract query catalog: one (Spark query, DuckDB oracle)
pair per lane, each lane running package code (the SURVEY.md §2
operators and the LLM-data-pipeline families: dedup, similarity, text
analysis, events/windows, multimodal, streaming) over the synthetic
star schema in ``$sf_dir``, plus seven labelled Spark-baseline
controls at the end of ``SPARK_QUERIES``.

Conventions that make the cross-engine value-hash comparison exact:

- **Integer event time.** ``events.ts`` normalizes to exact-integer
  epoch micros via the dtype-adaptive ``functions.event_micros``
  (nanos-long, TIMESTAMP, and TIMESTAMP_NTZ parquet encodings all
  supported); all window arithmetic is integer micros, matching
  DuckDB's ``epoch_us(ts)`` bit-for-bit — timezone-proof by
  construction (session tz pinned UTC for the NTZ branch).
- **Order-robust floats.** Sums of doubles are rounded to 2 decimals
  (engine summation order differs in the last ulp); ratios to 4.
  Rank/top-k cuts always order on the *rounded* value with an id
  tiebreak, so the selected row set is deterministic.
- **Portable hashing.** Content hashes use md5-derived 32-bit values
  (``functions.portable_hash32``) that DuckDB recomputes verbatim;
  the production default stays ``xxhash64`` (see operators/dedup.py).
- **Aliases match.** Every computed column is aliased identically in
  the Spark plan and the oracle SQL (the driver hashes columns by
  sorted name).
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geniepool_etl_spark import functions as GPF

from geniepool_etl_spark.functions import (
    enable_nanos_as_long,
    event_micros,
    portable_hash32,
    portable_hash32_sql,
)
from geniepool_etl_spark.operators import dedup as D
from geniepool_etl_spark.operators import events as E
from geniepool_etl_spark.operators import multimodal as M
from geniepool_etl_spark.operators import packing as PK
from geniepool_etl_spark.operators import similarity as S
from geniepool_etl_spark.operators import text as TX
from geniepool_etl_spark.operators import cdx as CDX
from geniepool_etl_spark.operators import pdf as PDF
from geniepool_etl_spark.operators import robots as RB
from geniepool_etl_spark.operators import subtitles as SUB
from geniepool_etl_spark.operators import webdataset as WDS
from geniepool_etl_spark.sources import warc as WC
from geniepool_etl_spark.sources import zipdoc as ZD
from geniepool_etl_spark.sources import sniff as SNF

_uniq = itertools.count()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    enable_nanos_as_long(spark)
    return _t(spark, sf_dir, "events")


def _tmpdir(tag: str) -> str:
    return tempfile.mkdtemp(prefix=f"gp_spark_{tag}_")


_fixture_cache: dict[tuple[str, str], str] = {}


def _memo_fixture(tag: str, sf_dir: str, write) -> str:
    """Write an on-disk fixture once per (tag, sf_dir) per process and
    reuse the directory on later invocations — repeated driver runs of
    a fixture-backed entry skip the rewrite (results identical: the
    fixtures are deterministic functions of the input tables)."""
    key = (tag, sf_dir)
    if key not in _fixture_cache:
        path = _tmpdir(tag)
        write(path)
        _fixture_cache[key] = path
    return _fixture_cache[key]


# =====================================================================
# S: sources / sinks (SURVEY §2.1)
# =====================================================================

def q_s11_lake_range_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 + the lake centerpiece: orders mapped onto the genomic lake
    shape (chrom, pos, pos_bucket), written Hive-partitioned, then a
    partition-pruned range query via lake.read_range (bucket ids
    derived arithmetically — only matching directories are listed)."""
    from geniepool_etl_spark import lake

    out = _tmpdir("s11")
    orders = _t(spark, sf_dir, "orders")
    shaped = orders.select(
        F.concat(F.lit("chr"), (F.col("o_orderkey") % 5).cast("string")).alias(
            "chrom"
        ),
        (F.col("o_orderkey") * 37).cast("int").alias("pos"),
        F.col("o_totalprice"),
    ).withColumn("pos_bucket", F.floor(F.col("pos") / 100000))
    lake.write_datalake(shaped, out)
    got = lake.read_range(spark, out, "chr2", 50_000, 1_200_000)
    return got.select(
        "chrom",
        F.col("pos").cast("long").alias("pos"),
        "o_totalprice",
        F.col("pos_bucket").cast("long").alias("pos_bucket"),
    )


def q_snap_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot table (snaptable.py): three committed versions of an
    orders table — create (status F), append (status O), append
    (status P) — then a TIME-TRAVEL read of every version. Each read
    resolves one immutable manifest, so the per-version counts and
    exact-cents totals are the cumulative status sets, unaffected by
    the later commits. Money totals follow the repo cents rule
    (per-row BIGINT cents, never float sums)."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_tt"), "t")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    T.write_table(orders.where("o_orderstatus = 'F'"), out, "create")
    T.write_table(orders.where("o_orderstatus = 'O'"), out, "append")
    T.write_table(orders.where("o_orderstatus = 'P'"), out, "append")
    reads = []
    for v in (0, 1, 2):
        reads.append(
            T.read_table(spark, out, version=v).agg(
                F.lit(v).cast("long").alias("version"),
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("sum_cents"),
            )
        )
    got = reads[0]
    for r in reads[1:]:
        got = got.unionByName(r)
    return got


def q_snap_delete_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE on a snapshot table: lineitem committed
    range-partitioned on l_orderkey, then ``delete_where`` rewrites
    ONLY the files holding matching rows (the others carry into the
    new manifest by reference — asserted in tests/test_snaptable.py).
    Returns the post-delete per-flag totals; the pre-delete version
    remains time-travel readable."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_del"), "t")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    T.write_table(
        li.repartitionByRange(4, "l_orderkey"),
        out,
        "create",
        stats_cols=("l_orderkey",),
    )
    T.delete_where(spark, out, "l_quantity > 40")
    return (
        T.read_table(spark, out)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


def q_snap_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ delete via DELETION VECTORS: two successive
    ``delete_where(mode='dv')`` commits write ONLY (file key, row
    position) vectors — zero data-file rewrites; every read
    anti-joins them out (broadcast — needle-delete-sized by design)
    and the second delete's probe reads THROUGH the first's vectors,
    so re-deletes cannot double-count. ``compact`` then MATERIALIZES
    the vectors and the read stays identical — the full
    Delta/Iceberg v2 DV lifecycle. The metadata row count
    (manifest-only, dv_rows subtracted) is asserted against the read
    in tests."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_dv"), "t")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    T.write_table(
        li.repartitionByRange(4, "l_orderkey"),
        out,
        "create",
        stats_cols=("l_orderkey",),
    )
    T.delete_where(spark, out, "l_quantity > 45", mode="dv")
    T.delete_where(
        spark, out, "l_linenumber = 1 AND l_quantity > 20", mode="dv"
    )
    T.compact(spark, out, target_files=2)
    return (
        T.read_table(spark, out)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


def q_snap_range_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats file skipping: orders committed as 8 range-
    partitioned files with per-file [min, max] o_orderkey recorded in
    the manifest; a range read prunes non-intersecting files DRIVER-
    SIDE from kilobytes of metadata before Spark lists anything (the
    Iceberg min/max-skipping shape), then pushes the row filter into
    the surviving parquet scans. tests/test_snaptable.py asserts
    files_scanned < files_total for this layout."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_rs"), "t")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    T.write_table(
        orders.repartitionByRange(8, "o_orderkey"),
        out,
        "create",
        stats_cols=("o_orderkey",),
    )
    total, scanned = T.scan_stats(spark, out, "o_orderkey", 100, 700)
    if not scanned < total:
        raise AssertionError(
            f"snap_range_skip: no files pruned ({scanned}/{total}) — "
            "the skipping property this entry exists to exercise"
        )
    got = T.read_range(spark, out, "o_orderkey", 100, 700)
    return got.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("sum_key"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
    )


def q_snap_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-column schema evolution without rewrite (snaptable.
    write_table(evolve_schema=True)): customers commit as a 2-column
    table, then an append lands a third column (exact acctbal cents)
    for the odd-key half — ZERO data files are rewritten; the
    manifest's declared schema becomes the superset and the v0 files
    null-fill the new column at read time (schema-on-read, the
    Delta/Iceberg add-column shape). The entry raises unless time
    travel to v0 still shows the ORIGINAL 2-column schema — evolution
    must not rewrite history. Output: row count, non-null count and
    exact cents sum of the evolved column."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_ev"), "t")
    cust = _t(spark, sf_dir, "customer")
    base = cust.where(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name"
    )
    evolved = cust.where(F.col("c_custkey") % 2 == 1).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    T.write_table(base, out, "create")
    T.write_table(evolved, out, "append", evolve_schema=True)
    if len(T.read_table(spark, out, 0).schema.fields) != 2:
        raise AssertionError(
            "snap_schema_evolution: v0 lost its original schema — "
            "evolution must not rewrite history"
        )
    got = T.read_table(spark, out)
    return got.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("bal_cents").alias("n_with_bal"),
        F.sum("bal_cents").alias("sum_bal_cents"),
    )


def q_snap_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file skipping (snaptable.read_point): orders
    committed as 8 HASH-clustered files — every file's [min, max]
    o_orderkey spans the whole key range, so manifest min/max stats
    prune NOTHING — with a per-file 16384-bit xxhash64 Bloom bitset
    recorded in the manifest. A point lookup for a mid-range key
    (deterministically derived: the smallest key ≥ (min+max)/2)
    bloom-prunes to ~1 file DRIVER-SIDE; the entry raises unless
    bloom strictly beats stats, the skipping property it exists to
    exercise. The probe literal is hashed under the column's declared
    type (int vs long hash differently — the cross-type trap the
    probe helper exists to close)."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_bl"), "t")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    T.write_table(
        orders.repartition(8, "o_orderkey"),
        out,
        "create",
        stats_cols=("o_orderkey",),
        bloom_cols=("o_orderkey",),
    )
    mn, mx = orders.agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).collect()[0]
    pk = (
        orders.where(F.col("o_orderkey") >= (mn + mx) // 2)
        .agg(F.min("o_orderkey"))
        .collect()[0][0]
    )
    total, after_stats, after_bloom = T.point_scan_stats(
        spark, out, "o_orderkey", pk
    )
    if not after_bloom < after_stats:
        raise AssertionError(
            f"snap_bloom_skip: bloom pruned nothing beyond stats "
            f"({total}/{after_stats}/{after_bloom}) — the skipping "
            "property this entry exists to exercise"
        )
    got = T.read_point(spark, out, "o_orderkey", pk)
    return got.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("sum_key"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
    )


def q_snap_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL change feed across REWRITES (snaptable.read_changes
    + the r12 write-time change tracking): after create(F) →
    append(O) → append(P) → delete_where(key%10<2) →
    merge(keys %10 ∈ {1,5}), the feed carries appends as inserts
    (file-diff, no change data written), the delete's exact net rows
    from its commit's change files, and the merge's
    update_preimage/update_postimage/insert split — keys %10==5
    update in place, the %10==1 keys deleted at v3 re-insert. Grouped
    to per-(version, change-type) counts + exact cents."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_cf"), "t")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    T.write_table(orders.where("o_orderstatus = 'F'"), out, "create")
    T.write_table(orders.where("o_orderstatus = 'O'"), out, "append")
    T.write_table(orders.where("o_orderstatus = 'P'"), out, "append")
    T.delete_where(spark, out, "o_orderkey % 10 < 2")
    tp_type = orders.schema["o_totalprice"].dataType.simpleString()
    upd = orders.where("o_orderkey % 10 IN (1, 5)").select(
        "o_orderkey",
        # otherwise-less when keeps nullability aligned with the
        # parquet-read table schema (merge_table compares exactly)
        F.when(F.col("o_orderkey").isNotNull(), F.lit("U")).alias(
            "o_orderstatus"
        ),
        F.when(F.col("o_orderkey").isNotNull(), F.lit(42.5))
        .cast(tp_type)
        .alias("o_totalprice"),
    )
    T.merge_table(spark, out, upd, ["o_orderkey"])
    return (
        T.read_changes(spark, out, from_version=0)
        .groupBy("_commit_version", "_change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("sum_cents"),
        )
    )


def q_snap_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE into the snapshot table (snaptable.merge_table):
    orders committed range-partitioned on the key, then one merge
    that UPDATES every ``o_orderkey % 7 = 3`` row (+1000 on the
    total) and INSERTS a shifted-key copy of the ``% 11 = 5`` rows —
    file-level copy-on-write, so only files containing a matched key
    rewrite (CoW-by-reference pinned in tests). Per-status counts and
    exact cents totals over the merged table; the oracle rebuilds the
    same merge as base-minus-matched ∪ updates ∪ inserts."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_mg"), "t")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    T.write_table(
        orders.repartitionByRange(4, "o_orderkey"),
        out,
        "create",
        stats_cols=("o_orderkey",),
    )
    upd = orders.where("o_orderkey % 7 = 3").withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    ins = orders.where("o_orderkey % 11 = 5").select(
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    T.merge_table(spark, out, upd.unionByName(ins), ["o_orderkey"])
    return (
        T.read_table(spark, out)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("sum_cents"),
        )
    )


def q_snap_zorder_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER × snapshot-table file skipping: lineitem written
    range-partitioned on the Morton key of (za, zb) = (l_orderkey %
    1024, l_partkey % 1024) with manifest min/max stats on BOTH raw
    dimensions — one clustered layout buys driver-side file skipping
    for predicates on EITHER column (tests assert files_scanned <
    files_total for a zb-only range, the dimension plain sorting
    can't skip on). The read also pushes the row predicate into the
    surviving parquet scans. Result is layout-independent; the
    skipping property itself is pinned in tests/test_snaptable.py."""
    from geniepool_etl_spark import lake
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_zs"), "t")
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (F.col("l_orderkey") % 1024).cast("long").alias("za"),
            (F.col("l_partkey") % 1024).cast("long").alias("zb"),
        )
        .withColumn(
            "zkey",
            lake.zorder_key([F.col("za"), F.col("zb")], bits=10),
        )
    )
    T.write_table(
        li.repartitionByRange(8, "zkey").sortWithinPartitions("zkey"),
        out,
        "create",
        stats_cols=("za", "zb"),
    )
    got = T.read_range(spark, out, "zb", 100, 163)
    return got.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("za").alias("sum_za"),
        F.sum("l_quantity").alias("sum_qty"),
    )


def q_snap_compact_zorder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-COLUMN Z-ORDER COMPACTION (r15 — snaptable.compact
    ``zorder_by``): lineitem lands HASH-SCATTERED (round-robin
    repartition(8) — every file spans the full range of both za and
    zb, so stats pruning is inert: pre_scanned == files_total on
    both axes), then ONE maintenance pass re-clusters on the Morton
    key of (za, zb) with bucket bounds read from the manifest's own
    min/max stats (metadata, no data pre-pass). Post-compact, a
    64-wide range read must skip files on EITHER axis
    (``post_skips``) — the property a single-axis sort cannot give
    the second dimension. Row results come from the real pruned
    reads; exact post-compact file counts are
    repartitionByRange-boundary-dependent and are pinned by
    tests/test_snaptable.py instead."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_cz"), "t")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_orderkey") % 1024).cast("long").alias("za"),
        (F.col("l_partkey") % 1024).cast("long").alias("zb"),
    )
    T.write_table(
        li.repartition(8), out, "create", stats_cols=("za", "zb")
    )
    pre = {c: T.scan_stats(spark, out, c, 100, 163) for c in ("za", "zb")}
    T.compact(spark, out, target_files=8, zorder_by=("za", "zb"))
    post = {c: T.scan_stats(spark, out, c, 100, 163) for c in ("za", "zb")}
    parts = []
    for c in ("za", "zb"):
        ft, fs_pre = pre[c]
        ft_post, fs_post = post[c]
        parts.append(
            T.read_range(spark, out, c, 100, 163)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            )
            .select(
                F.lit(c).alias("axis"),
                F.lit(ft).cast("long").alias("files_total"),
                F.lit(fs_pre).cast("long").alias("pre_scanned"),
                F.lit(bool(fs_post < ft_post)).alias("post_skips"),
                "n_rows",
                "sum_qty",
            )
        )
    return parts[0].unionByName(parts[1])


def q_snap_compact_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance audit trail: create (4 round-robin files) →
    append (1 file) → compact (rows verified identical before the
    commit) — ``history`` reads the whole story from manifest
    metadata alone. File counts are part of the contract: round-robin
    repartition(4) of a ≥4-row frame fills all 4 partitions, the
    append coalesces to one file, and compact's target is 1."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_ch"), "t")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    T.write_table(nation.repartition(4), out, "create")
    T.write_table(nation, out, "append", target_files=1)
    T.compact(spark, out, target_files=1)
    return T.history(spark, out)


def q_s17_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (mainframe/copybook) text source: byte-offset
    fields decoded with JVM substring projections over a plain text
    scan — no delimiter, no UDF (sources/fixedwidth.py)."""
    from geniepool_etl_spark.sources.fixedwidth import (
        read_fixed_width,
        write_fixed_width_fixture,
    )

    def _write(out: str) -> None:
        rows = sorted(
            _t(spark, sf_dir, "nation").collect(),
            key=lambda r: r.n_nationkey,
        )  # 25-row dim: fixture generation only
        write_fixed_width_fixture(
            [(r.n_nationkey, r.n_name, r.n_regionkey) for r in rows],
            [4, 28, 4],
            os.path.join(out, "nation.fw"),
        )

    out = _memo_fixture("s17", sf_dir, _write)
    return read_fixed_width(
        spark,
        os.path.join(out, "nation.fw"),
        [
            ("n_nationkey", 1, 4, "int"),
            ("n_name", 5, 28, "string"),
            ("n_regionkey", 33, 4, "int"),
        ],
    )


# =====================================================================
# J: joins (SURVEY §2.3)
# =====================================================================

def q_j3_broadcast_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hint on the small dim (part) — the scale-up
    default for dimension enrichment."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "inner")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


# =====================================================================
# A: aggregations (SURVEY §2.4)
# =====================================================================

def q_a2_two_level_nest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: second-level nesting — per-order aggregates re-nested per
    customer (the entries-array build, operators/nest.py)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lvl1 = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    joined = orders.join(
        lvl1, orders.o_orderkey == lvl1.l_orderkey, "left"
    )
    return joined.groupBy("o_custkey").agg(
        F.array_join(
            F.sort_array(F.collect_list("o_orderkey")).cast("array<string>"),
            ",",
        ).alias("order_keys"),
        F.sum(F.coalesce(F.col("n_items"), F.lit(0))).cast("long").alias(
            "total_items"
        ),
    )


def q_a4_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped flagship aggregate: filter → 2-key groupBy →
    sums/avgs/count, all map-side-partial-aggregated."""
    li = _t(spark, sf_dir, "lineitem").where(
        "l_shipdate <= TIMESTAMP_NTZ '1999-12-31 00:00:00'"
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py). The oracle is
    the PLAIN aggregation — salting must be answer-invisible."""
    from geniepool_etl_spark.operators.skew import salted_agg

    return salted_agg(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        16,
        F.col("l_orderkey"),
        "l_quantity",
    )


def q_a13_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Datasketches HLL): per-type sketches
    via ``hll_sketch_agg``, then the GLOBAL distinct estimated by
    MERGING the per-type sketches (``hll_union_agg``) — never
    rescanning the fact table. This is the 100 TB pattern
    approx_count_distinct (a7) can't do: its estimate is final, while
    sketches persist per partition/day and roll up to any grouping
    later. Checkable output follows the a7 convention: exact counts +
    a within-5% boolean per row (exact cardinalities here are ~150,
    where HLL at default lgConfigK is in its exact-mode regime, so the
    bound is loose)."""
    ev = _t(spark, sf_dir, "events")
    # |types|-sized sketch frame consumed by BOTH the per-type readout
    # and the union-merge — lazy-materialize once so the events
    # scan+sketch aggregate does not replay per consumer (r16).
    sk = (
        ev.groupBy("event_type")
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count_distinct("user_id").alias("exact_users"),
        )
        .transform(GPF.ckpt_lazy)
    )
    tol = lambda est, exact: (  # noqa: E731
        F.abs(est - exact) <= 0.05 * exact
    )
    per_type = sk.select(
        "event_type",
        "exact_users",
        tol(
            F.hll_sketch_estimate("sk"), F.col("exact_users")
        ).alias("within_tol"),
    )
    # the two single-row frames (merged estimate, global exact) meet
    # via union + max-agg, not a constant-key join — Catalyst folds a
    # lit-key equi-join to a trivially-true condition and plans a
    # nested loop, which the repo's cartesian sweep rightly rejects
    merged = sk.agg(F.hll_union_agg("sk").alias("msk")).select(
        F.hll_sketch_estimate("msk").alias("est"),
        F.lit(None).cast("long").alias("exact_users"),
    )
    g_exact = ev.agg(
        F.count_distinct("user_id").alias("exact_users")
    ).select(F.lit(None).cast("long").alias("est"), "exact_users")
    total = (
        merged.unionByName(g_exact)
        .agg(
            F.max("est").alias("est"),
            F.max("exact_users").alias("exact_users"),
        )
        .select(
            F.lit("ALL").alias("event_type"),
            "exact_users",
            tol(F.col("est"), F.col("exact_users")).alias("within_tol"),
        )
    )
    return per_type.unionByName(total)


# =====================================================================
# Sort / limit / set ops / window functions (SURVEY §2.6)
# =====================================================================

def q_w1_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number top-3 orders per market segment."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        joined.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("c_mktsegment", "rnk", "o_orderkey", "o_totalprice")
    )


def q_w2_running_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count / max per user ordered by event time (order-
    independent accumulators → deterministic under any engine)."""
    ev = E.with_event_time(_events(spark, sf_dir))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("run_n"),
        F.round(F.max("value").over(w), 4).alias("run_max"),
    )


def q_w3_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag-based sequence features (operators/events.with_prev_event)."""
    return E.with_prev_event(_events(spark, sf_dir)).select(
        "event_id", "user_id", "prev_type", "gap_us"
    )


# =====================================================================
# Events: windowed / sessionized processing
# =====================================================================

def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.tumbling_agg(_events(spark, sf_dir))


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.sliding_agg(_events(spark, sf_dir))


def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via the native ``session_window`` — kept as
    the lane implementation after the r14 two-phase attempt MEASURED
    SLOWER at every scale and density (see
    operators/events.session_agg_two_phase and SCALE.md): the
    codegen sort's per-row constant beats the interpreted fold by
    5-10×, and this corpus's 1.05 events/session voids the
    volume-reduction premise."""
    return E.session_agg(_events(spark, sf_dir))


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    click at-or-before it."""
    ev = E.with_event_time(_events(spark, sf_dir))
    purchases = ev.where("event_type = 'purchase'")
    clicks = ev.where("event_type = 'click'")
    return E.asof_join_latest_prior(purchases, clicks)


def q_events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (pandas merge_asof
    ``tolerance`` semantics): clicks older than 30 minutes null out
    instead of matching."""
    ev = E.with_event_time(_events(spark, sf_dir))
    return E.asof_join_latest_prior(
        ev.where("event_type = 'purchase'"),
        ev.where("event_type = 'click'"),
        tolerance_us=30 * 60 * 1_000_000,
    )


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly detection (operators/events.with_anomaly_flags):
    |z| > 3 against the preceding 20 same-user events, evaluated as an
    exact integer-cents inequality — no float mean/stddev, so the
    boolean cannot flip on engine summation order. Oracle runs the
    same integer windowed sums in SQL."""
    return E.with_anomaly_flags(_events(spark, sf_dir))


def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap (range) join: click activity windows × purchase
    activity windows per user, via the bucketed range-join rewrite
    (operators/events.py interval_overlap_join) — explode to coarse
    buckets, equi-join, refine; canonical-bucket rule dedupes for free.
    Oracle is the naive inequality join (DuckDB's IEJoin handles it at
    oracle scale; Spark's BNLJ would not at 100 TB — that asymmetry is
    the point of the operator)."""
    ev = E.with_event_time(_events(spark, sf_dir))
    width_us = E.US_PER_HOUR

    def intervals(tp: str) -> DataFrame:
        return ev.where(F.col("event_type") == tp).select(
            "user_id",
            F.col("event_id").alias("id"),
            F.col("ts_us").alias("start_us"),
            (F.col("ts_us") + width_us).alias("end_us"),
        )

    # bucket_us=None: the production auto-sizing path (p95 span with
    # the straggler floor) — the bucket choice is plan-only, so the
    # oracle is unaffected
    joined = E.interval_overlap_join(
        intervals("click"), intervals("purchase")
    )
    return joined.select(
        "user_id",
        F.col("l_id").alias("click_id"),
        F.col("r_id").alias("purchase_id"),
        (
            F.least(F.col("l_end_us"), F.col("r_end_us"))
            - F.greatest(F.col("l_start_us"), F.col("r_start_us"))
        ).alias("overlap_us"),
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.pivot_type_counts(_events(spark, sf_dir), EVENT_TYPES)


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.json_props(_events(spark, sf_dir)).select("event_id", "prop_k")


def q_events_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-projected JSON parse (``from_json`` → struct access) —
    the typed counterpart to get_json_object's path extraction."""
    ev = _events(spark, sf_dir)
    parsed = ev.withColumn(
        "p", F.from_json(F.col("props"), "k BIGINT")
    )
    # note: PERMISSIVE from_json returns a non-null struct even for
    # malformed input (fields null) — "parsed" is judged by the field.
    return parsed.select(
        "event_id",
        F.col("p.k").alias("prop_k"),
        F.col("p.k").isNotNull().alias("parsed_ok"),
    )


def q_s18_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource API lane (Spark 4, sources/pysource.py): a
    custom batch source with explicit split planning (one
    InputPartition per shard, executors read in parallel). The source
    is a pure integer function of event_id, so the oracle regenerates
    it via generate_series arithmetic — and the aggregate is invariant
    to the partition count, the property a real connector's split
    planner must hold. Cents stay integer through the sum."""
    from geniepool_etl_spark.sources import pysource

    pysource.register(spark)
    df = (
        spark.read.format("gp_synthetic_events")
        .option("partitions", 8)
        .option("rows_per_partition", 1250)
        .load()
    )
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("value_cents") / F.lit(100.0)).alias("sum_value"),
        F.max("event_id").alias("max_event_id"),
    )


def q_s22_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python STREAMING DataSource lane (Spark 4,
    sources/pysource.SyntheticEventsStreamReader): driver-side offset
    management + deterministic offset-range replay, driven through
    TWO trigger-once runs over ONE checkpoint — the second run must
    resume from the committed offset (rows 500..999), not restart at
    zero, proving the offset JSON round-trips the checkpoint. Each
    micro-batch commits atomically into a snapshot table via the
    batch ledger (custom Python source → exactly-once table ingest,
    end to end). The oracle regenerates both batches by arithmetic."""
    from geniepool_etl_spark import snaptable as T
    from geniepool_etl_spark.sources import pysource
    from geniepool_etl_spark.streaming import ingest_snap_batch

    pysource.register(spark)
    table = os.path.join(_tmpdir("pysrc_stream"), "t")
    ckpt = _tmpdir("pysrc_ckpt")
    for _ in range(2):
        q = (
            spark.readStream.format("gp_synthetic_events")
            .option("rows_per_batch", 500)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: ingest_snap_batch(df, bid, table)
            )
            .option("checkpointLocation", ckpt)
            .trigger(once=True)
            .start()
        )
        q.awaitTermination()
    return (
        T.read_table(spark, table)
        .groupBy((F.col("user_id") % 7).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_cents").alias("sum_cents"),
            F.max("event_id").alias("max_event_id"),
        )
    )


def q_s23_snap_change_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table CHANGE-FEED streaming source (sources/
    snapsource — the Delta-streaming-source shape on the FULL Python
    DataSource streaming API): offsets are table versions, each
    micro-batch is a driver-side manifest diff, and every new FILE is
    one InputPartition an executor scans directly with pyarrow — row
    payloads never pass through the driver (the scale contrast to the
    Simple reader in s22). Driven as two trigger-once runs over ONE
    checkpoint with an append landing between them: the second run
    must emit ONLY the new commit's rows (offset JSON survived the
    checkpoint) — a re-emit would double version 0/1 counts and fail
    the oracle. Rows are stamped with _commit_version."""
    from geniepool_etl_spark import snaptable as T
    from geniepool_etl_spark.sources import snapsource

    snapsource.register(spark)
    base = _tmpdir("snapstream")
    table = os.path.join(base, "t")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    nation = _t(spark, sf_dir, "nation")
    T.write_table(
        nation.where("n_nationkey % 2 = 0"), table, "create", target_files=1
    )
    T.write_table(
        nation.where("n_nationkey % 2 = 1"), table, "append", target_files=1
    )

    def run_once() -> None:
        q = (
            spark.readStream.format("gp_snap_changes")
            .option("path", table)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(once=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # versions 0+1
    shifted = nation.select(
        (F.col("n_nationkey") + F.lit(100)).alias("n_nationkey"),
        F.concat(F.lit("late-"), F.col("n_name")).alias("n_name"),
        "n_regionkey",
    )
    T.write_table(shifted, table, "append", target_files=1)
    run_once()  # resumes: version 2 only
    return (
        spark.read.parquet(out)
        .groupBy("_commit_version")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_nationkey").cast("long")).alias("key_sum"),
        )
    )


def q_stream_snap_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REWRITE-SPANNING change-feed stream (sources/snapsource + the
    r12 write-time change tracking): after create(evens) →
    append(odds) the first trigger-once run delivers the snapshot as
    typed inserts; a delete_where(key<5) AND a merge(keys %5==0) land
    before the second run, which must emit exactly the delete's
    recorded net rows plus the merge's update_preimage /
    update_postimage / insert split (the key deleted at v2
    re-inserts at v3). Offsets survive the shared checkpoint; each
    run writes its own sink dir (a restart re-resolves the source
    schema, and the file-sink metadata log is per-directory).
    Grouped to per-(version, change-type) counts + key sums."""
    from geniepool_etl_spark import snaptable as T
    from geniepool_etl_spark.sources import snapsource

    snapsource.register(spark)
    base = _tmpdir("snapcdf")
    table = os.path.join(base, "t")
    ckpt = os.path.join(base, "ckpt")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    T.write_table(
        nation.where("n_nationkey % 2 = 0"), table, "create",
        target_files=1,
    )
    T.write_table(
        nation.where("n_nationkey % 2 = 1"), table, "append",
        target_files=1,
    )

    def run_once(dst: str) -> None:
        q = (
            spark.readStream.format("gp_snap_changes")
            .option("path", table)
            .load()
            .writeStream.format("parquet")
            .option("path", dst)
            .option("checkpointLocation", ckpt)
            .trigger(once=True)
            .start()
        )
        q.awaitTermination()

    out1 = os.path.join(base, "out1")
    run_once(out1)  # versions 0+1 as inserts
    T.delete_where(spark, table, "n_nationkey < 5")
    upd = nation.where("n_nationkey % 5 = 0").select(
        "n_nationkey",
        # otherwise-less when keeps nullability aligned with the
        # parquet-read table schema (merge_table compares exactly)
        F.when(F.col("n_nationkey").isNotNull(), F.lit("UPDATED"))
        .alias("n_name"),
        "n_regionkey",
    )
    T.merge_table(spark, table, upd, ["n_nationkey"])
    out2 = os.path.join(base, "out2")
    run_once(out2)  # versions 2 (delete) + 3 (merge) change rows
    both = spark.read.parquet(
        os.path.join(out1, "part-*.parquet")
    ).unionByName(
        spark.read.parquet(os.path.join(out2, "part-*.parquet"))
    )
    return both.groupBy("_commit_version", "_change_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n_nationkey").cast("long")).alias("key_sum"),
    )


def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType lane: ``parse_json`` → binary variant,
    typed path extraction via ``variant_get`` plus schema
    introspection via ``schema_of_variant`` — the shredded
    semi-structured encoding (column-store friendly, no per-row JSON
    re-parse downstream). Oracle extracts the same path with DuckDB's
    JSON functions; the variant schema string is pinned literally
    (the fixture's props are uniformly ``{"k": int}``)."""
    ev = _events(spark, sf_dir)
    v = ev.select("event_id", F.parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.variant_get("v", "$.k", "long").alias("prop_k"),
        F.schema_of_variant(F.col("v")).alias("vschema"),
    )


def q_udtf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF lane (Spark 4): per-user top-2 events by value via
    a bounded-heap table function over ``TABLE(v) PARTITION BY
    user_id`` (operators/tablefunc.py). The oracle is the window
    formulation the UDTF must agree with — pinning the extensibility
    lane against the JVM lane."""
    from geniepool_etl_spark.operators.tablefunc import topk_by_value

    return topk_by_value(spark, _t(spark, sf_dir, "events"))


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming: the tumbling aggregation executed as a
    file-source stream (explicit schema, complete mode, memory sink),
    checked against the same batch oracle."""
    from geniepool_etl_spark.streaming import run_tumbling_stream

    return run_tumbling_stream(spark, sf_dir, name=f"ct_{next(_uniq)}")


def q_stream_snap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into a SNAPSHOT TABLE
    (streaming.maintain_snap_ingest_stream → snaptable.write_table):
    documents drained as two micro-batches, each committed as one
    atomic snaptable version stamped with its batch id; batch 0 is
    then REDELIVERED by hand and must be a manifest-ledger no-op
    (exactly-once, asserted inside the entry). The final table holds
    the corpus exactly twice — per-length-bucket counts and id sums,
    which the oracle doubles directly."""
    from geniepool_etl_spark.streaming import run_snap_ingest_stream

    out = run_snap_ingest_stream(spark, sf_dir)
    return (
        out.groupBy((F.col("doc_id") % 10).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_id"),
            F.sum(F.length("text")).alias("sum_chars"),
        )
    )


def q_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental-rollup maintenance
    (streaming.maintain_rollup_stream): the events file drained twice
    (two source files, one per micro-batch) through foreachBatch
    merge_rollup into a batch-id-versioned standing table —
    exactly-once by idempotent version recompute. Final rollup must
    equal the doubled batch aggregate (both batches merged, min/max
    unchanged), which the oracle computes directly."""
    from geniepool_etl_spark.streaming import run_rollup_stream

    enable_nanos_as_long(spark)
    out = run_rollup_stream(spark, sf_dir)
    return out.select(
        "user_id",
        "n_events",
        (F.col("sum_cents") / F.lit(100.0)).alias("sum_value"),
        "min_value",
        "max_value",
    )


def q_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min maintenance (streaming.
    maintain_countmin_stream): the events file drained twice, one
    file per micro-batch, each folded into a batch-id-versioned
    standing sketch by elementwise SUM — the sketch merge law IS the
    maintenance operation, so the final standing (d, b, c) table must
    equal the one-shot sketch of the doubled log, which the oracle
    computes directly. Standing state is depth×width counters TOTAL —
    constant regardless of stream volume."""
    from geniepool_etl_spark.streaming import run_countmin_stream

    enable_nanos_as_long(spark)
    return run_countmin_stream(spark, sf_dir)


def _stream_countmin_oracle(depth: int, width: int) -> str:
    fan = " UNION ALL ".join(
        f"SELECT key, n, {d} AS d, "
        f"{portable_hash32_sql('key', seed=d)} % {width} AS b FROM keys"
        for d in range(depth)
    )
    return f"""
        WITH keys AS (
          SELECT user_id % 300 AS key, count(*) * 2 AS n
          FROM events GROUP BY 1
        ),
        hashed AS ({fan})
        SELECT d, b, CAST(sum(n) AS BIGINT) AS c
        FROM hashed GROUP BY d, b
    """


def q_stream_loghist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile-sketch maintenance (streaming.
    run_loghist_stream): the events file drained as two micro-batches
    into a standing (idx, n) log-histogram by SUM-merge, then
    p50/p90/p99 answered from the final sketch — the merge law makes
    the standing sketch equal the one-shot sketch of the doubled log,
    which is exactly what the oracle computes. With stream_countmin
    (frequency) and the natively-streaming HLL (distinct), the whole
    mergeable-sketch triad is maintainable under streaming."""
    from geniepool_etl_spark.streaming import run_loghist_stream

    enable_nanos_as_long(spark)
    return run_loghist_stream(spark, sf_dir)


_STREAM_LOGHIST_ORACLE = """
    WITH c0 AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
    ),
    c AS (SELECT cents FROM c0 UNION ALL SELECT cents FROM c0),
    h AS (
      SELECT CASE WHEN cents < 1 THEN -1
                  WHEN cents < 16 THEN cents
                  ELSE 16 + (length(printf('%b', cents)) - 5) * 8
                       + ((cents >> (length(printf('%b', cents)) - 4))
                          & 7) END AS idx,
             count(*) AS n
      FROM c GROUP BY 1
    ),
    cum AS (SELECT idx, sum(n) OVER (ORDER BY idx) AS cum FROM h),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM h),
    q AS (
      SELECT 50 AS q_num, 100 AS q_den,
             (n * 50 + 99) // 100 AS rank FROM t
      UNION ALL SELECT 90, 100, (n * 90 + 99) // 100 FROM t
      UNION ALL SELECT 99, 100, (n * 99 + 99) // 100 FROM t
    ),
    picked AS (
      SELECT q_num, q_den, rank, min(idx) AS idx
      FROM cum, q WHERE cum >= rank GROUP BY 1, 2, 3
    )
    SELECT q_num, q_den, rank,
           CAST(CASE WHEN idx = -1 THEN NULL
                WHEN idx < 16 THEN idx
                ELSE (8 + (idx - 16) % 8) << ((idx - 16) // 8 + 1)
                END AS BIGINT) AS lo_cents,
           CAST(CASE WHEN idx = -1 THEN 0
                WHEN idx < 16 THEN idx
                ELSE ((8 + (idx - 16) % 8) << ((idx - 16) // 8 + 1))
                     + (1 << ((idx - 16) // 8 + 1)) - 1
                END AS BIGINT) AS hi_cents
    FROM picked
"""


def q_stream_sliding_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows WITH a distinct-user count under readStream
    (streaming.run_sliding_hll_stream) — closes stream_sliding's
    documented "streaming cannot count_distinct" delta via the HLL
    estimate, cross-checked against the exact batch distinct per
    window with a 5%-tolerance boolean (a7 convention; the streamed
    HLL is the system under test, the batch join is the
    instrument)."""
    from geniepool_etl_spark.streaming import run_sliding_hll_stream

    enable_nanos_as_long(spark)
    return run_sliding_hll_stream(spark, sf_dir, name=f"chll_{next(_uniq)}")


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sessionization: the native session_window
    aggregation under readStream (append mode; a far-future flush event
    closes all real sessions — streaming.run_session_stream), checked
    against the batch islands-and-gaps oracle."""
    from geniepool_etl_spark.streaming import run_session_stream

    return run_session_stream(spark, sf_dir, name=f"cs_{next(_uniq)}")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the source replays the whole
    events file twice (at-least-once upstream), and
    dropDuplicatesWithinWatermark must reduce it back to exactly the
    original table (streaming.run_dedup_stream)."""
    from geniepool_etl_spark.streaming import run_dedup_stream

    return run_dedup_stream(spark, sf_dir, name=f"cd_{next(_uniq)}")


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream attribution join: each purchase
    matched to the same user's clicks at most 2 h earlier
    (streaming.clicks_to_purchases_stream / run_attribution_stream);
    oracle is the equivalent batch range self-join."""
    from geniepool_etl_spark.streaming import run_attribution_stream

    return run_attribution_stream(spark, sf_dir, name=f"cj_{next(_uniq)}")


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom keyed state via applyInPandasWithState: running per-user
    (count, sum) accumulators whose single-batch final state must
    equal the batch groupBy (streaming.run_stateful_counts_stream)."""
    from geniepool_etl_spark.streaming import run_stateful_counts_stream

    return run_stateful_counts_stream(spark, sf_dir, name=f"cf_{next(_uniq)}")


def q_stream_ingest_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once safety of the streaming lake ingest
    (streaming._write_ingest_batch): the same micro-batch is written
    TWICE under one batch_id — simulating a foreachBatch retry after a
    failure — plus one genuinely new batch; dynamic partition overwrite
    keyed by ``ingest_batch=batch_id`` must make the retry replace, not
    duplicate. The read-back lake is reduced to per-day totals + a
    duplicate probe (count vs countDistinct), so the oracle is the
    plain events table: any double-write breaks both columns."""
    from geniepool_etl_spark.streaming import _write_ingest_batch

    lake = _tmpdir("ingest")
    ev = E.with_event_time(_events(spark, sf_dir)).withColumn(
        "day_bucket", F.expr("ts_us div 86400000000")
    )
    b0 = ev.where(F.col("event_id") % 2 == 0)
    b1 = ev.where(F.col("event_id") % 2 == 1)
    _write_ingest_batch(b0, 0, lake)
    _write_ingest_batch(b0, 0, lake)  # retry of batch 0: must replace
    _write_ingest_batch(b1, 1, lake)
    return (
        spark.read.parquet(lake)
        # partition-dir read-back infers day_bucket as int — pin long
        .select(F.col("day_bucket").cast("long"), "event_id")
        .groupBy("day_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_ids"),
        )
    )


# =====================================================================
# Dedup family (documents)
# =====================================================================

def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ re-keyed copies of every 10th doc — injects exact
    duplicates so the dedup path is actually exercised."""
    docs = _t(spark, sf_dir, "documents")
    clones = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    return docs.unionByName(clones)


_DOCS_WITH_DUPS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""


def q_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_stats(_docs_with_dups(spark, sf_dir))


def q_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_docs_with_dups(spark, sf_dir)).select("doc_id")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup (operators/dedup.
    incremental_exact_dedup): the new batch (doc_id >= 400) keeps one
    doc per content hash and drops hashes already in the standing
    corpus's (doc_id < 400) index — corpus data never re-scanned."""
    d = _docs_with_dups(spark, sf_dir)
    corpus_idx = D.exact_dedup_stats(d.where("doc_id < 400"))
    return D.incremental_exact_dedup(
        d.where("doc_id >= 400"), corpus_idx
    ).select("doc_id")


def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = D.jaccard_pairs(_t(spark, sf_dir, "documents"), n=3)
    return pairs.where(F.col("jaccard") >= 0.1).select(
        "id_a", "id_b", "inter", "size_a", "size_b", "jaccard"
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        num_perm=16,
        bands=4,
        hash_fn=portable_hash32,
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the Jaccard near-dup pairs: the
    iterative fixpoint label propagation, oracled by a DuckDB
    recursive-CTE transitive closure."""
    pairs = D.jaccard_pairs(_t(spark, sf_dir, "documents"), n=3).where(
        F.col("jaccard") >= 0.1
    )
    return D.dedup_clusters(pairs)


def q_dedup_near_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup corpus filter: Jaccard pairs → connected
    components → keep min-id representative per cluster + all unpaired
    documents. Returns the surviving doc_ids."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, n=3).where(F.col("jaccard") >= 0.1)
    return D.near_dedup_keep(docs, pairs).select("doc_id")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(
        _t(spark, sf_dir, "documents"), bits=32, hash_fn=portable_hash32
    )


def q_dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup detection (dedup.incremental_minhash_
    candidates): the new batch (the ≥1M-keyed clones) is signed and
    banded fresh, then equi-joined against the standing corpus's
    persisted :func:`minhash_index` — daily-ingest cost scales with
    the batch, the corpus is never re-shingled. Portable hash both
    sides so the oracle recomputes signatures bit-for-bit."""
    d = _docs_with_dups(spark, sf_dir)
    idx = D.minhash_index(
        d.where("doc_id < 1000000"),
        num_perm=16,
        bands=4,
        hash_fn=portable_hash32,
    )
    return D.incremental_minhash_candidates(
        d.where("doc_id >= 1000000"),
        idx,
        num_perm=16,
        bands=4,
        hash_fn=portable_hash32,
    )


def q_dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level repeated-text detection (dedup.repeated_ngram_spans):
    maximal word spans covered by 5-grams occurring in ≥2 distinct
    documents — cross-document boilerplate INSIDE otherwise unique
    documents, the exact-substring dedup step document-level dedup
    cannot see. ``hash_fn=None`` keys the frequency join on the gram
    text so the oracle recomputes it bit-for-bit (production default
    is a 64-bit fingerprint key)."""
    return D.repeated_ngram_spans(
        _t(spark, sf_dir, "documents"), n=5, min_docs=2, hash_fn=None
    )


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH quality gate (the text-dedup twin of
    ``sim_lsh_recall``): recall of the banded-LSH candidate pairs
    against the EXACT Jaccard pairs at threshold 0.1, bucketed by the
    true Jaccard decile — the instrument ``num_perm``/``bands``/
    ``max_bucket`` are tuned against instead of folklore. Banding
    theory says recall rises steeply with similarity (a pair agrees on
    a band with probability s^rows_per_band); the per-decile rows make
    that curve a measured artifact. Both sides run the portable hash
    so the oracle recomputes candidates bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    truth = D.jaccard_pairs(docs, n=3).where(F.col("jaccard") >= 0.1)
    cand = D.minhash_lsh_pairs(
        docs, num_perm=16, bands=4, hash_fn=portable_hash32
    ).select("id_a", "id_b")
    # The truth frame feeds TWO consumers (the hit semi-join and the
    # per-bucket totals) that are INDEPENDENT branches — they execute
    # concurrently, so a lazy localCheckpoint does NOT dedupe them
    # (both compute the full exact-Jaccard pipeline before either
    # finishes checkpointing; measured: lazy 10.5 s ≈ no checkpoint
    # 10.0 s). EAGER materialization is what collapses the double
    # compute: 3.5 s at sf0.01 (2.9×). Lazy is only sufficient when
    # the consumers are join-sequenced (minhash sigs, span grams).
    t = truth.select(
        "id_a",
        "id_b",
        F.floor(F.col("jaccard") * 10).cast("long").alias("j_bucket"),
    ).transform(GPF.ckpt_eager)
    hit = (
        t.join(cand, ["id_a", "id_b"], "left_semi")
        .groupBy("j_bucket")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        t.groupBy("j_bucket")
        .agg(F.count(F.lit(1)).alias("n_true"))
        .join(hit, "j_bucket", "left")
        .select(
            "j_bucket",
            "n_true",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0))
                / F.col("n_true").cast("double"),
                4,
            ).alias("recall"),
        )
    )


# =====================================================================
# Text analysis (documents)
# =====================================================================

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.with_text_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars_m", "n_words", "avg_word_len", "stopword_ratio"
    )


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.with_token_count(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_ws_tokens"
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle trigram language id (operators/text.
    trigram_lang_profiles + with_lang_id_trigram): per-language
    top-50 character-trigram profiles built FROM the corpus's labeled
    rows, documents classified by integer out-of-place rank distance
    (r9 upgrade over the marker-word heuristic, which remains as
    with_lang_id for unlabeled corpora)."""
    docs = _t(spark, sf_dir, "documents")
    profiles = TX.trigram_lang_profiles(docs)
    return TX.with_lang_id_trigram(docs, profiles).select(
        "doc_id", "pred_lang"
    )


def q_text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram frequency: top-20 word bigrams across all
    documents (counted WITH multiplicity per doc — contamination /
    boilerplate detection shape). Deterministic rank tiebreak on the
    ngram string."""
    docs = _t(spark, sf_dir, "documents")
    # word array bound once per row (TX._bind) — capturing the split
    # in the per-index lambda re-evaluated it per element (O(words²))
    grams = TX._bind(
        F.split(F.trim(F.col("text")), r"\s+"),
        lambda ws: F.when(
            F.size(ws) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - 1),
                lambda i: F.concat_ws(" ", F.slice(ws, i, 2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    counts = (
        docs.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # unpartitioned Window is safe HERE: Catalyst rewrites
    # row_number + rnk<=20 into TakeOrderedAndProject(limit=20) below
    # the window (verified by explain, r7 judge), so only 20 rows ever
    # reach the single partition — not a scale hazard
    w = Window.orderBy(F.col("n").desc(), F.col("ngram"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 20)
    )


def q_text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-grouped quality profile: per (source, lang) document
    count and average length/word stats. The stopword ratio is
    averaged UNROUNDED — averaging 4-decimal-rounded values lands
    exactly on .00005 rounding boundaries (e.g. mean of 10 docs) where
    engines' last-ulp sums disagree; round only the final statistic.
    """
    docs = _t(spark, sf_dir, "documents")
    words = TX.words_col(F.col("text"))
    n_words = F.size(words)
    stop_hits = F.size(
        F.filter(words, lambda w: F.lower(w).isin(*TX.STOPWORDS))
    )
    stats = docs.select(
        "source",
        "lang",
        n_words.alias("n_words"),
        F.length("text").alias("n_chars_m"),
        (stop_hits.cast("double") / n_words).alias("raw_ratio"),
    )
    return stats.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
        F.round(F.avg("n_chars_m"), 4).alias("avg_chars"),
        F.round(F.avg("raw_ratio"), 4).alias("avg_stopword_ratio"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.with_fingerprint(
        _t(spark, sf_dir, "documents"), portable=True
    ).select("doc_id", "fingerprint")


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-bigram fraction per document (Gopher-style repetition
    quality signal) — narrow per-row expressions, no shuffle."""
    return TX.with_repetition_ratio(_t(spark, sf_dir, "documents")).select(
        "doc_id", "repetition_ratio"
    )


def q_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: deterministic shard + concat-and-chop window
    assignment over the documents corpus (512-token windows, 8 packing
    shards) — one hash-partition shuffle, then per-shard window sums."""
    return PK.pack_windows(
        _t(spark, sf_dir, "documents"), context_len=512, n_shards=8
    )


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing utilization report: per shard, total tokens, windows
    consumed, and fill ratio (tokens / window capacity) — the metric
    that tells a training pipeline how much compute the pack layout
    wastes. Chop semantics fill every window except each shard's
    final partial one, so fill_ratio ~1 with the shortfall bounded by
    context_len/shard_tokens."""
    packed = PK.pack_windows(
        _t(spark, sf_dir, "documents"), context_len=512, n_shards=8
    )
    n_windows = F.max("last_window") + F.lit(1)
    return packed.groupBy("shard").agg(
        F.sum("n_tok").cast("long").alias("total_tokens"),
        n_windows.cast("long").alias("n_windows"),
        F.round(
            F.sum("n_tok") / (n_windows * F.lit(512.0)), 4
        ).alias("fill_ratio"),
    )


def q_pipeline_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-prep composition: documents → overlapping
    context-window chunks (``chunk_documents``, narrow explode) →
    sequence packing over the CHUNKS (``pack_windows``, one hash
    exchange + shard-local window sums) — the two operators proven
    individually now proven composed, with the chunk's own
    ``n_chunk_words`` flowing in as the precomputed ``token_col`` (no
    re-tokenization of chunk text). Chunk identity is the composite
    ``doc_id·1000 + chunk_idx`` so packing's deterministic hash order
    is reproducible by the oracle."""
    docs = _t(spark, sf_dir, "documents")
    chunks = TX.chunk_documents(
        docs, chunk_words=64, stride_words=48
    ).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx"))
        .cast("long")
        .alias("chunk_id"),
        "chunk_text",
        F.col("n_chunk_words").cast("long").alias("n_chunk_words"),
    )
    return PK.pack_windows(
        chunks,
        context_len=128,
        n_shards=4,
        id_col="chunk_id",
        text_col="chunk_text",
        token_col="n_chunk_words",
    )


def q_pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus build as ONE composed plan — the
    pipeline a reference user actually runs, end to end: documents →
    quality gate (``quality_filter``, narrow scan-speed keep set) →
    exact dedup (``exact_dedup``, one md5-keyed shuffle, min-id
    keeper) → overlapping context-window chunking
    (``chunk_documents``, narrow explode) → sequence packing over the
    chunks (``pack_windows``, one hash exchange + shard-local window
    sums). Four stages, two shuffles total (dedup window, pack
    exchange — the quality gate applies inline on the spine, r16);
    every stage's semantics already proven by its own entry, here
    proven COMPOSED — the oracle recomputes the entire funnel in
    SQL."""
    docs = _t(spark, sf_dir, "documents")
    # r16 (guide §2.4): the quality gate is a narrow map — apply it
    # INLINE on the spine via keep_cols instead of projecting the
    # keep set to ids and join-composing it back (the join is two
    # corpus-scale exchanges at scale; AQE only rescues it below the
    # broadcast threshold). Identical kept rows, oracle-proven.
    kept = (
        TX.quality_filter(
            docs,
            keep_cols=tuple(c for c in docs.columns if c != "doc_id"),
        )
        .where(F.col("keep"))
        .select(*docs.columns)
    )
    survivors = D.exact_dedup(kept)
    chunks = TX.chunk_documents(
        survivors, chunk_words=64, stride_words=48
    ).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx"))
        .cast("long")
        .alias("chunk_id"),
        "chunk_text",
        F.col("n_chunk_words").cast("long").alias("n_chunk_words"),
    )
    return PK.pack_windows(
        chunks,
        context_len=128,
        n_shards=4,
        id_col="chunk_id",
        text_col="chunk_text",
        token_col="n_chunk_words",
    )


def q_sample_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planner: per-source keep-fractions hitting
    a 50/30/10 target mix over three sources, capped at 1.0 with the
    shortfall reported. One |sources|-row aggregate."""
    from geniepool_etl_spark.operators import sampling as SP

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    return SP.mixture_plan(
        docs,
        token_budget=3000,
        shares={"src0": 0.5, "src1": 0.3, "src2": 0.1},
    )


def q_p8_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style dedup: keep each user's latest event (max timestamp,
    event_id tiebreak) — the deterministic 'latest record wins'
    pattern, one window over the natural partition key."""
    from geniepool_etl_spark.operators.events import with_event_time

    ev = with_event_time(_events(spark, sf_dir))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "event_id", "ts_us", "event_type")
    )


def q_lake_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over two bucketed dimensions —
    the sort key write_zordered lays files out by for multi-column
    data skipping. Pure shift/mask codegen expressions, no shuffle."""
    from geniepool_etl_spark import lake as LK

    li = _t(spark, sf_dir, "lineitem")
    zk = LK.zorder_key(
        [F.col("l_orderkey") % 1024, F.col("l_partkey") % 1024], bits=10
    )
    return li.select("l_orderkey", "l_linenumber", zk.alias("zkey"))


# =====================================================================
# Similarity search (embeddings)
# =====================================================================

def q_sim_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, emb.where("vec_id < 8"), k=5)


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.lsh_bucket_topk(_t(spark, sf_dir, "embeddings"), k=5)


def q_sim_pandas_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk_pandas(emb, emb.where("vec_id < 8"), k=5)


def q_sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: recall@5 of the LSH candidate path against
    the exact brute-force ranking, per query — the instrument
    n_planes / multi_probe / max_bucket are tuned against before
    trusting the approximate path at scale. Exact per-query
    intersection count via a semi-join on (q_id, n_id).

    Expected values on THIS synthetic table are low: the embeddings
    are near-random directions with no planted neighbors, and
    sign-LSH recall degrades toward chance as the true top-k cosine
    approaches 0 (a near-duplicate pair straddles any one hyperplane
    with probability ~acos(cos)/π — small only when cos is high).
    The entry pins the measurement machinery, not a recall target;
    production corpora with real near-duplicates sit in the
    high-cosine regime the bucketing is designed for."""
    emb = _t(spark, sf_dir, "embeddings")
    brute = S.cosine_topk(emb, emb.where("vec_id < 8"), k=5)
    lsh = S.lsh_bucket_topk(emb, k=5).where("q_id < 8")
    hits = brute.select("q_id", "n_id").join(
        lsh.select("q_id", "n_id"), ["q_id", "n_id"], "left_semi"
    )
    per_q = hits.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_matched")
    )
    return (
        brute.select("q_id").distinct()
        .join(per_q, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_matched"), F.lit(0))
            .cast("long")
            .alias("n_matched"),
            F.round(
                F.coalesce(F.col("n_matched"), F.lit(0)) / F.lit(5.0), 4
            ).alias("recall_at_5"),
        )
    )


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-local semantic dedup (operators/
    similarity.semantic_dedup_keep): embeddings assign to their
    nearest deterministic seed centroid; exact cosines run only
    WITHIN clusters (candidate volume Σ|cluster|²/2, never
    all-pairs); a vector is dropped when a suprathreshold-cosine neighbor
    with a smaller id shares its cluster — the keep set is
    deterministic and auditable. The synthetic embeddings are
    near-orthogonal (max cos ≈ 0.51), so the threshold is 0.3 to
    exercise the drop path (same convention as dedup_embedding). Complements dedup_embedding's LSH-bucketed global
    pairs with the clustering-first shape of the SemDeDup recipe."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.semantic_dedup_keep(emb, threshold=0.3, n_centroids=16)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (LSH-bucketed candidates). The
    synthetic embeddings are near-orthogonal (max cos ≈ 0.51), so the
    threshold is set low enough to exercise the path."""
    return S.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, n_planes=4
    )


# =====================================================================
# Multimodal plumbing (documents as binary assets)
# =====================================================================

def q_multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = M.documents_as_assets(_t(spark, sf_dir, "documents"))
    return M.extract_features(assets)


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling
    (operators/sampling.weighted_hash_sample): survival probability
    proportional to a word-count prior (``min(1, n_words/500)``),
    decided by a per-row hash gate — no RNG, identical keep set on
    any engine/partitioning. The weight is chosen integer-granular
    (n_words·20 per mille) so the acceptance cutoff is exact on both
    engines."""
    from geniepool_etl_spark.operators.sampling import (
        weighted_hash_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    n_words = F.size(TX.words_col(F.col("text")))
    out = weighted_hash_sample(docs, n_words / F.lit(500.0))
    return out.select("doc_id", "source")


def q_sim_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-ANN quality gate: recall@5 of the int8-quantized
    ranking (similarity.int8_topk — 4× smaller vectors, exact integer
    dot products) against the exact float brute force. The fourth leg
    of the ANN instrument set (LSH, IVF, and now quantization each
    measured, never assumed); the oracle replays the same symmetric
    127/max|v| quantization in SQL, bit-exact because every quantized
    value is an integer."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where("vec_id < 8")
    brute = S.cosine_topk(emb, queries, k=5)
    quant = S.int8_topk(emb, queries, k=5)
    hits = brute.select("q_id", "n_id").join(
        quant.select("q_id", "n_id"), ["q_id", "n_id"], "left_semi"
    )
    per_q = hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_matched"))
    return (
        brute.select("q_id").distinct()
        .join(per_q, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_matched"), F.lit(0))
            .cast("long")
            .alias("n_matched"),
            F.round(
                F.coalesce(F.col("n_matched"), F.lit(0)) / F.lit(5.0), 4
            ).alias("recall_at_5"),
        )
    )


def q_multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV round-trip through the stdlib decoder: per-document
    audio parameters are derived JVM-side (so the oracle recomputes
    them), encoded into genuine RIFF/WAVE payloads by ``wave`` inside
    Arrow ``mapInPandas``, then decoded back by ``decode_audio`` — the
    de-stubbed media-decode lane (multimodal.py). Both maps are narrow;
    the payload never crosses a shuffle."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(8000) * (F.lit(1) + F.col("doc_id") % 3))
            .cast("long")
            .alias("sample_rate"),
            (F.lit(1) + F.col("doc_id") % 2).cast("long").alias("n_channels"),
            ((F.length("text") % 997 + 1) * 8).cast("long").alias("n_frames"),
        )
    )
    return M.decode_audio_features(M.synth_wav_assets(params))


def q_multimodal_audio_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM sample statistics (multimodal.decode_audio_pcm_stats):
    deterministic int16 sawtooth WAVs are synthesized from JVM-derived
    parameters (multimodal.synth_wav_tone_assets), then every sample
    is decoded and reduced to exact integers — count, Σamp, energy
    Σamp², peak. The oracle recomputes the sawtooth closed-form via
    per-asset range() unnests (full cycles × cycle sums + partial
    cycle). This de-stubs the former "PCM boundary" for uncompressed
    audio; compressed codecs stay the ffmpeg boundary."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 0)
        .select(
            F.col("doc_id").alias("asset_id"),
            F.lit(8000).cast("long").alias("sample_rate"),
            (F.lit(1) + F.col("doc_id") % 2).cast("long").alias("n_channels"),
            ((F.length("text") % 997 + 1) * 4).cast("long").alias("n_frames"),
            (F.lit(16) + (F.col("doc_id") % 4) * 16)
            .cast("long")
            .alias("period"),
            # NOT %7: the frame is filtered to doc_id%7==0, which
            # would pin step=1 and make amplitude scaling untested
            (F.lit(1) + F.col("doc_id") % 5).cast("long").alias("step"),
        )
    )
    return M.decode_audio_pcm_stats(M.synth_wav_tone_assets(params))


def q_multimodal_audio_gates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AUDIO CURATION GATES (r16 — multimodal.
    synth_wav_segments_assets → audio_quality_gates): the
    speech-corpus analogue of the gopher text gates over REAL
    decoded PCM — integrated level (exact integer mean square),
    longest silence run, clipped-sample fraction in milli units,
    each gate a pure integer comparison. The designed three-segment
    waveform (±amp tone, zero run, full-scale clip run) makes every
    measure a closed form of the parameters: mean_sq =
    (n_tone·amp² + Σclip²) div n, longest_silence = n_sil exactly
    (amp > silence threshold by construction), clip_milli =
    1000·n_clip div n. Assets fail level (small amp, no clip),
    silence (n_sil 21/28 > 20) and clipping (n_clip ≥ 3 on short
    streams) independently, so each gate's trigger is oracle-
    visible."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 5)
        .select(
            F.col("doc_id").alias("asset_id"),
            (64 + (F.col("doc_id") % 50) * 64)
            .cast("long")
            .alias("amp"),
            (40 + F.col("doc_id") % 23).cast("long").alias("n_tone"),
            ((F.col("doc_id") % 5) * 7).cast("long").alias("n_sil"),
            ((F.col("doc_id") % 4) * 3).cast("long").alias("n_clip"),
        )
    )
    return M.audio_quality_gates(M.synth_wav_segments_assets(params))


def q_multimodal_image_gates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IMAGE QUALITY GATES (r16 — multimodal.
    synth_pgm_pattern_assets → image_quality_gates): the
    pre-captioning vision filter as REAL pixel work — 3×3 Laplacian
    variance (blur score, exact integer milli units) + 256-bin
    histogram entropy (per-bin ln integer-rounded to 1/10000 nats
    before the sum), both gates pure integer comparisons. The four
    designed 32×32 patterns land on every gate side: flat (var 0,
    entropy 0 — fails both), width-1 stripes (var 4(b−a)²·1000,
    entropy ln 2 — passes both), a linear ramp whose interior
    Laplacian is EXACTLY zero (the blur-like degenerate: entropy
    ln 32 passes, sharpness fails), and a checkerboard (var
    16(b−a)²·1000 — passes both)."""
    d = F.col("doc_id")
    params = (
        _t(spark, sf_dir, "documents")
        .where(d % 13 == 6)
        .select(
            d.alias("asset_id"),
            (d % 4).cast("long").alias("kind"),
            F.when(d % 4 == 2, d % 30)
            .otherwise(20 + d % 100)
            .cast("long")
            .alias("a"),
            F.when(d % 4 == 2, 1 + d % 7)
            .otherwise(21 + d % 100 + d % 60)
            .cast("long")
            .alias("b"),
        )
    )
    return M.image_quality_gates(M.synth_pgm_pattern_assets(params))


def q_multimodal_audio_g711(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """G.711 µ-law / a-law WAV sample decode (multimodal.
    synth_wav_g711_assets → decode_audio_pcm_stats): format tags 7/6,
    one companded byte per sample, expanded through the ITU-T G.711
    segment tables (the classic Sun ulaw2linear/alaw2linear forms —
    stateless, so the oracle expresses the expansion as a closed-form
    CASE per byte). Telephony corpora ship this profile; the byte
    stream is a pure function of (asset_id, i)."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 7)
        .select(
            F.col("doc_id").alias("asset_id"),
            F.lit(8000).cast("long").alias("sample_rate"),
            (F.lit(50) + (F.col("doc_id") % 9) * 30)
            .cast("long")
            .alias("n_frames"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("ulaw"))
            .otherwise(F.lit("alaw"))
            .alias("law"),
        )
    )
    return M.decode_audio_pcm_stats(M.synth_wav_g711_assets(params))


def q_multimodal_audio_adpcm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IMA/DVI ADPCM WAV sample decode (multimodal.
    synth_wav_ima_adpcm_assets → decode_audio_pcm_stats): format tag
    0x11, block-headed 4-bit predictive coding — per block, the
    header predictor IS sample 0 and every following sample walks the
    89-entry step table with ±clamping. The decoder
    (multimodal._ima_adpcm_pcm) runs the recurrence vectorized across
    blocks; the ORACLE replays the exact same state machine as a
    recursive CTE over (block, j) with the step/index tables as
    VALUES relations — a real stateful-decoder oracle, not a
    rows-only check."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 5)
        .select(
            F.col("doc_id").alias("asset_id"),
            F.lit(8000).cast("long").alias("sample_rate"),
            (F.lit(2) + F.col("doc_id") % 4)
            .cast("long")
            .alias("n_blocks"),
            (F.lit(12) + (F.col("doc_id") % 5) * 8)
            .cast("long")
            .alias("block_align"),
        )
    )
    return M.decode_audio_pcm_stats(
        M.synth_wav_ima_adpcm_assets(params)
    )


def q_multimodal_audio_adpcm_stereo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STEREO IMA/DVI ADPCM WAV sample decode: per-channel headers
    (4 bytes each) and nibble words round-robin 4 bytes per channel —
    the word de-interleave is the part a mono-only decoder gets
    wrong. Channels carry independent state machines; the oracle's
    recursive CTE replays both (one row per (asset, block, CHANNEL)
    advancing in parallel)."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 10)
        .select(
            F.col("doc_id").alias("asset_id"),
            F.lit(8000).cast("long").alias("sample_rate"),
            (F.lit(1) + F.col("doc_id") % 3)
            .cast("long")
            .alias("n_blocks"),
            (F.lit(16) + (F.col("doc_id") % 4) * 8)
            .cast("long")
            .alias("block_align"),
        )
    )
    return M.decode_audio_pcm_stats(
        M.synth_wav_ima_adpcm_assets(params, n_channels=2)
    )


def q_multimodal_audio_msadpcm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STEREO MS-ADPCM WAV sample decode (multimodal.
    synth_wav_ms_adpcm_assets → decode_audio_pcm_stats): format tag
    2, two-tap adaptive prediction — per block and channel, a
    predictor index picks a coefficient pair from the fmt-extension
    table, the two int16 header samples are output frames 0/1, and
    every nibble updates sample = clamp((s1·c1 + s2·c2) >> 8 +
    signed_nibble·delta) with delta = max((adapt·delta) >> 8, 16).
    Channels interleave PER NIBBLE (unlike IMA's 4-byte word
    round-robin). The ORACLE replays the exact recurrence as a
    recursive CTE over (asset, block, CHANNEL) with the coefficient
    and adaptation tables as VALUES relations."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 2)
        .select(
            F.col("doc_id").alias("asset_id"),
            F.lit(8000).cast("long").alias("sample_rate"),
            (F.lit(1) + F.col("doc_id") % 3)
            .cast("long")
            .alias("n_blocks"),
            (F.lit(20) + (F.col("doc_id") % 4) * 8)
            .cast("long")
            .alias("block_align"),
        )
    )
    return M.decode_audio_pcm_stats(
        M.synth_wav_ms_adpcm_assets(params, n_channels=2)
    )


def q_multimodal_audio_au(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sun/NeXT .au sample decode (multimodal.synth_au_assets →
    decode_audio_pcm_stats): 24-byte big-endian header walked by
    hand (the stdlib ``sunau`` module is gone in 3.13), encodings
    mixed per row — µ-law (1, through the same G.711 expansion the
    WAV lane pins) and linear-16 big-endian (3). The oracle branches
    on the encoding: the µ-law closed form for even assets, direct
    sample arithmetic for odd."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 1)
        .select(
            F.col("doc_id").alias("asset_id"),
            F.lit(8000).cast("long").alias("sample_rate"),
            (F.lit(40) + (F.col("doc_id") % 9) * 25)
            .cast("long")
            .alias("n_frames"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(1))
            .otherwise(F.lit(3))
            .cast("long")
            .alias("encoding"),
        )
    )
    return M.decode_audio_pcm_stats(M.synth_au_assets(params))


def q_multimodal_audio_aiff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AIFF sample decode (multimodal.synth_aiff_assets →
    decode_audio_pcm_stats): FORM/AIFF IFF walk, COMM with the
    80-bit EXTENDED-FLOAT sample rate (encoded and decoded for
    real), SSND offset honored, 16-bit big-endian PCM. Closed-form
    sample oracle."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 0)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(8000) + (F.col("doc_id") % 3) * 11025)
            .cast("long")
            .alias("sample_rate"),
            (F.lit(30) + (F.col("doc_id") % 11) * 20)
            .cast("long")
            .alias("n_frames"),
        )
    )
    return M.decode_audio_pcm_stats(M.synth_aiff_assets(params))


def q_multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel statistics (multimodal.decode_image_pixel_stats):
    deterministic 24-bit gradient BMPs synthesized from JVM-derived
    (width, height) — bottom-up rows, 4-byte padding, per the spec —
    then every pixel decoded back and reduced to exact per-channel
    integer sums. The oracle recomputes the gradient per asset via a
    range(w·h) unnest. De-stubs the former "pixel boundary" for
    uncompressed images; compressed codecs stay the boundary."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 1)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(32) + (F.col("doc_id") % 5) * 16)
            .cast("long")
            .alias("width"),
            (F.lit(24) + (F.col("doc_id") % 4) * 12)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(M.synth_bmp_gradient_assets(params))


def q_multimodal_png_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-image pixel decode, stdlib only (multimodal.
    synth_png_gradient_assets → decode_image_pixel_stats): real
    spec-complete PNGs — zlib-deflated IDAT, scanline ``y`` filtered
    with predictor ``y % 5`` so every asset exercises ALL FIVE PNG
    filters, chunk CRCs — carrying the same deterministic gradient as
    the BMP lane, decoded back pixel-for-pixel (inflate → un-filter
    walk → exact per-channel integer sums). The oracle recomputes the
    gradient per asset via a range(w·h) unnest; heights ≥ 10 guarantee
    Average/Paeth rows are load-bearing. Shrinks the codec boundary:
    JPEG/WebP (DCT/VP8 entropy codecs) remain behind it."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 2)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(16) + (F.col("doc_id") % 5) * 8)
            .cast("long")
            .alias("width"),
            (F.lit(10) + (F.col("doc_id") % 4) * 6)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(M.synth_png_gradient_assets(params))


def q_multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family composition: IMAGE near-dup via decoded pixel
    statistics. Synth PNGs whose (width, height) collide across
    asset ids decode to identical exact channel sums; grouping on the
    full pixel signature (n_pixels, sum_r, sum_g, sum_b) — decoded
    from the BYTES, not trusted metadata — yields duplicate clusters
    with the deterministic keep-lowest-id rule. The shape at 100 TB:
    the mapInPandas decode is narrow, and the groupBy key is a
    16-byte signature, so payloads never shuffle. Output: one row per
    duplicate GROUP (signature cardinality ≥ 1) with its size and
    keeper."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 1)
        .select(
            F.col("doc_id").alias("asset_id"),
            # deliberately COARSE param space (3 x 2 combos) → real
            # signature collisions across asset ids
            (F.lit(8) + (F.col("doc_id") % 3) * 4)
            .cast("long")
            .alias("width"),
            (F.lit(6) + (F.col("doc_id") % 2) * 5)
            .cast("long")
            .alias("height"),
        )
    )
    stats = M.decode_image_pixel_stats(M.synth_png_gradient_assets(params))
    return (
        stats.groupBy("n_pixels", "sum_r", "sum_g", "sum_b")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("asset_id").alias("keep_id"),
        )
    )


def q_multimodal_jpeg_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUCCESSIVE-APPROXIMATION progressive JPEG decode (multimodal.
    synth_jpeg_sa_assets → decode_image_pixel_stats): the remaining
    progressive scan kinds real encoders emit — first DC scan at
    point transform Al=1, DC refinement bits, per-component first AC
    scans at Al=1 and AC refinement scans (Ah=1) — COMBINED with
    restart intervals (every scan flushes at each DRI boundary, the
    RSTm sequence restarts at RST0 per scan, DC prediction resets,
    EOB runs never cross a boundary). The block-constant gradient's
    AC bands are zero, so the oracle stays the closed form and both
    machineries must be exactly value-neutral; nonzero-history
    refinement (positional corrections, EOB-covered corrections) is
    pinned by a hand-built-bitstream unit test. With this, every
    SOF0/SOF2 scan structure the engine meets decodes; the JPEG
    boundary is subsampling beyond 2x2 only."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 19 == 8)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(10) + (F.col("doc_id") % 7) * 6)
            .cast("long")
            .alias("width"),
            (F.lit(9) + (F.col("doc_id") % 6) * 5)
            .cast("long")
            .alias("height"),
            (F.lit(1) + F.col("doc_id") % 4).cast("long").alias("interval"),
        )
    )
    return M.decode_image_pixel_stats(M.synth_jpeg_sa_assets(params))


def q_multimodal_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG decode (SOF2, multimodal.
    synth_jpeg_progressive_assets → decode_image_pixel_stats): an
    interleaved DC scan plus per-component AC band scans whose
    all-zero bands entropy-code as chunked EOB runs through a custom
    EOBn Huffman table (Annex K has no EOBn symbols — progressive
    files carry their own DHTs); coefficients accumulate across scans
    and reconstruct through the shared IDCT + fixed-point color path.
    With this, every image family the engine parses has a pixel lane;
    successive-approximation scans remain the declared boundary."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 17 == 5)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(9) + (F.col("doc_id") % 8) * 5)
            .cast("long")
            .alias("width"),
            (F.lit(8) + (F.col("doc_id") % 7) * 4)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_jpeg_progressive_assets(params)
    )


def q_multimodal_flac_stereo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stereo-decorrelated FLAC decode (multimodal.
    synth_flac_stereo_assets → decode_audio_pcm_stats): the
    left/side, side/right and mid/side channel assignments real
    encoders default to for stereo — the side channel carries bps+1
    bits, mid's floor-shift drops a bit recovered from side's parity,
    and the all-integer inverse reconstructs both channels exactly.
    Left/side and side/right frames double their signals and declare
    one WASTED BIT per subframe (narrowed coding width + shift-back),
    and mid/side frames carry their channels as FIXED subframes with
    MIXED per-partition Rice escapes (partitions 0/2 escaped k=15
    raw, 1/3 Rice — both residual codings interleaved in one
    subframe, r10 verdict ask #8; decoded samples unchanged, so the
    closed-form oracle is too). Closes the last common FLAC gaps
    after r9's LPC work (variable blocking is pinned by pytest —
    the full fixed-point feature set decodes)."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 14 == 11)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(3) + F.col("doc_id") % 5).cast("int").alias("n_frames"),
            ((F.col("doc_id") % 40) * 30 - 600)
            .cast("int")
            .alias("base_val"),
            ((F.col("doc_id") % 30) * 20 - 300)
            .cast("int")
            .alias("base_val2"),
        )
    )
    return M.decode_audio_pcm_stats(M.synth_flac_stereo_assets(params))


def q_multimodal_flac_lpc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPC-subframe FLAC decode (multimodal.synth_flac_lpc_assets →
    decode_audio_pcm_stats): the codec's MAIN predictor in real
    encodes — per-subframe QLP precision and shift, signed quantized
    coefficients, shifted prediction over the same Rice residual
    machinery as FIXED (r8 verdict ask #8). Orders 1-3 with varying
    precision/shift per frame; the chosen coefficient sets predict
    the polynomial signals exactly, so the closed-form oracle pins
    every decoded sample. Stereo decorrelation, wasted bits, and
    (mixed per-partition) Rice escapes are driver-verified by the
    multimodal_flac_stereo lane."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 12 == 9)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(3) + F.col("doc_id") % 4).cast("int").alias("n_frames"),
            (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("n_channels"),
            ((F.col("doc_id") % 60) * 25 - 700)
            .cast("int")
            .alias("base_val"),
        )
    )
    return M.decode_audio_pcm_stats(M.synth_flac_lpc_assets(params))


def q_multimodal_webp_lossless(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOSSLESS WebP (VP8L) pixel decode (multimodal.
    synth_webp_lossless_assets → decode_image_pixel_stats): real
    spec bitstreams — LSB-first reader, NORMAL canonical Huffman
    codes transmitted through the code-length code (zero-runs via
    codes 17/18, token count via the max-symbol cap), SIMPLE 1-2
    symbol codes, and genuine LZ77 backward references (even rows ≥2
    are length-w copies at linear distance 2w, collapsing onto row
    0). Lossless WebP is a top-3 web image format; this closes its
    pixel boundary for the untransformed profile — see
    multimodal_webp_cache for subtract-green + color-cache streams;
    predictor/color-indexing transforms, meta-Huffman, and the 2-D
    distance map raise (with lossy VP8) as the declared remainder."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 10)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(13) + (F.col("doc_id") % 7) * 5)
            .cast("long")
            .alias("width"),
            (F.lit(8) + (F.col("doc_id") % 6) * 5)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_lossless_assets(params)
    )


def q_multimodal_png_palette(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Paletted PNG pixel decode (color type 3, multimodal.
    synth_png_palette_assets → decode_image_pixel_stats) at ALL four
    index widths — bit depth 1/2/4/8 cycling per asset — with
    MSB-first packed indices, the one-byte filter left-neighbor
    offset sub-byte depths use, all five scanline predictors, and
    PLTE lookup; trailing pad bits in each scanline are ignored per
    spec. Palette PNG is the dominant icon/sprite profile on the
    web; with this the PNG boundary is 16-bit samples only."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 8)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(12) + (F.col("doc_id") % 7) * 6)
            .cast("long")
            .alias("width"),
            (F.lit(9) + (F.col("doc_id") % 5) * 7)
            .cast("long")
            .alias("height"),
            F.element_at(
                F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8)),
                (F.col("doc_id") % 4 + 1).cast("int"),
            ).cast("int").alias("bit_depth"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_png_palette_assets(params)
    )


def q_multimodal_gif_interlaced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTERLACED GIF pixel decode (multimodal.
    synth_gif_gradient_assets(interlaced=True)): the LZW stream
    carries rows in the 4-pass order (0,8,…; 4,12,…; 2,6,…; odd —
    GIF87a Appendix E) and the decoder restores display order before
    the palette map. The unit test pins the full display-order index
    MATRIX (sums alone are permutation-blind); the lane proves the
    interlaced container end-to-end against the same closed form as
    the sequential lane."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 12)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(15) + (F.col("doc_id") % 6) * 8)
            .cast("long")
            .alias("width"),
            (F.lit(10) + (F.col("doc_id") % 7) * 5)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_gif_gradient_assets(params, interlaced=True)
    )


def q_multimodal_png16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit-per-sample RGB PNG pixel decode (multimodal.
    synth_png16_gradient_assets → decode_image_pixel_stats):
    big-endian sample pairs whose high AND low bytes vary, the
    6-byte filter left-neighbor offset RGB16 prescribes, all five
    predictors. Sums are over the raw 16-bit sample values. This
    closes the PNG boundary COMPLETELY — every legal color-type ×
    bit-depth family the spec defines for truecolor/gray/palette now
    decodes (16-bit gray shares the same branch)."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 6)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(10) + (F.col("doc_id") % 6) * 7)
            .cast("long")
            .alias("width"),
            (F.lit(8) + (F.col("doc_id") % 7) * 4)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_png16_gradient_assets(params)
    )


def q_multimodal_netpbm16(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """16-bit-per-sample binary netpbm P6 pixel decode (multimodal.
    synth_ppm16_gradient_assets → decode_image_pixel_stats): maxval
    65535 → TWO bytes per sample, big-endian per the netpbm spec,
    with a header comment in the token stream. The gradient factors
    (257/513/514/258) make high AND low bytes vary, so a byte-order
    or sample-width slip cannot cancel in the channel sums."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 3)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(9) + (F.col("doc_id") % 6) * 8)
            .cast("long")
            .alias("width"),
            (F.lit(7) + (F.col("doc_id") % 7) * 5)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_ppm16_gradient_assets(params)
    )


def q_multimodal_bmp_palette(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """8-bit PALETTED BMP pixel decode (multimodal.
    synth_bmp_palette_assets → decode_image_pixel_stats): BGRA quads
    after the 40-byte info header, biClrUsed honored (0 meaning 256 —
    hit when the n_colors sweep lands on exactly 256), 4-aligned
    bottom-up index rows mapped through the palette. Channel sums are
    a pure function of (w, h, n_colors), so the oracle recomputes
    every pixel without touching the bytes."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 9)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(12) + (F.col("doc_id") % 8) * 5)
            .cast("long")
            .alias("width"),
            (F.lit(6) + (F.col("doc_id") % 5) * 7)
            .cast("long")
            .alias("height"),
            (F.lit(16) + (F.col("doc_id") % 11) * 24)
            .cast("long")
            .alias("n_colors"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_bmp_palette_assets(params)
    )


def q_multimodal_webp_cache(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VP8L with the SUBTRACT-GREEN transform and a COLOR CACHE
    (multimodal.synth_webp_lossless_assets(subtract_green=True,
    cache_bits=6) → decode_image_pixel_stats) — the two features real
    lossless encoders enable by default: literals code r−g/b−g mod
    256 (inverse applied after the entropy layer), and repeated ARGB
    values ride 0x1E35A7BD-hashed cache indices in the extended green
    alphabet, with the cache updated on every decoded pixel including
    LZ77 copies. The synth's stream-order pre-pass simulates the
    decoder's cache exactly, so literal-vs-hit decisions are fixed at
    encode time and the closed-form oracle is unchanged (both
    features are value-neutral)."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 14 == 5)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(11) + (F.col("doc_id") % 8) * 4)
            .cast("long")
            .alias("width"),
            (F.lit(7) + (F.col("doc_id") % 5) * 6)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_lossless_assets(
            params, subtract_green=True, cache_bits=6
        )
    )


def q_multimodal_jpeg_sa420(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SUCCESSIVE APPROXIMATION + RESTART INTERVALS + 4:2:0 chroma
    subsampling in ONE progressive JPEG (multimodal.
    synth_jpeg_sa_assets(sampling="420")) — the full stack of scan
    machinery real encoders combine: point-transform DC scans walking
    four luma blocks + Cb + Cr per MCU (DRI counted in MCUs, DC
    prediction reset per interval), DC refinement bits in the same
    interleaved walk, per-component AC band + refinement scans over
    each component's OWN raster block count, subsampled-plane
    replication at reconstruction. Value-neutral by construction, so
    the closed-form 4:2:0 oracle pins every channel."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 11)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(16) + (F.col("doc_id") % 6) * 5)
            .cast("long")
            .alias("width"),
            (F.lit(12) + (F.col("doc_id") % 5) * 7)
            .cast("long")
            .alias("height"),
            (F.lit(1) + F.col("doc_id") % 3).cast("int").alias("interval"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_jpeg_sa_assets(params, sampling="420")
    )


def q_multimodal_avi_frames(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VIDEO FRAME decode — MJPEG-in-AVI (multimodal.
    synth_avi_mjpeg_assets → decode_video_frame_stats): a real RIFF
    container (hdrl/strl 'vids'+'MJPG' headers, LIST/movi of
    word-aligned 00dc chunks, each one complete baseline JPEG) walked
    and EXPLODED one-to-many into per-frame exact pixel stats through
    the full JPEG entropy/IDCT/fixed-point-color path. Motion-JPEG is
    the one mainstream video codec whose frames decode without an
    inter-frame predictor — the honest first rung of frame decode;
    H.26x/VP9/AV1 (motion compensation + arithmetic coding) remain
    the declared codec boundary and RAISE rather than mis-decode.
    Frame f shifts the block gradients by (29f, 17f, 11f), so the
    oracle recomputes every channel of every frame from (w, h, f)."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 9)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(14) + (F.col("doc_id") % 5) * 7)
            .cast("long")
            .alias("width"),
            (F.lit(9) + (F.col("doc_id") % 4) * 6)
            .cast("long")
            .alias("height"),
            (F.lit(2) + F.col("doc_id") % 3).cast("int").alias("n_frames"),
            (F.lit(5) + F.col("doc_id") % 3).cast("int").alias("fps"),
        )
    )
    return M.decode_video_frame_stats(M.synth_avi_mjpeg_assets(params))


def q_multimodal_avi_msrle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTER-FRAME video decode — MS-RLE8 in AVI (multimodal.
    synth_avi_msrle_assets → decode_video_frame_stats): the first
    rung PAST intra-only codecs. Frame 0 writes every pixel with
    absolute packets; every later frame DELTA-skips to a row window,
    rewrites it with run packets, and EOI-exits — all other pixels
    survive from the PREVIOUS frame in a persistent index buffer,
    mapped through the strf RGBQUAD palette. The oracle reconstructs
    each frame's buffer as 'latest update covering row y' — a pure
    closed form of (w, h, n_frames, rect_h). Motion-compensated
    codecs (H.26x/VP9/AV1) remain the declared boundary."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 11 == 7)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(8) + (F.col("doc_id") % 5) * 6)
            .cast("long")
            .alias("width"),
            (F.lit(6) + (F.col("doc_id") % 4) * 5)
            .cast("long")
            .alias("height"),
            (F.lit(2) + F.col("doc_id") % 3).cast("int").alias("n_frames"),
            (F.lit(1) + F.col("doc_id") % 3).cast("int").alias("rect_h"),
        )
    )
    return M.decode_video_frame_stats(M.synth_avi_msrle_assets(params))


def q_multimodal_tga(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truevision TGA pixel decode (multimodal.synth_tga_assets →
    decode_image_pixel_stats): 24-bit truecolor, UNCOMPRESSED (type
    2) and RLE (type 10 — run + literal packets) mixed per row by
    doc parity; TGA carries no magic, so detection rides the 2.0
    TRUEVISION-XFILE footer. Each row's left half is a constant gray
    (one run packet), the right half the repo gradient (literal
    packets) — compression is value-neutral and ONE closed form
    oracles both variants."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 11 == 4)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(10) + (F.col("doc_id") % 6) * 7)
            .cast("long")
            .alias("width"),
            (F.lit(7) + (F.col("doc_id") % 5) * 6)
            .cast("long")
            .alias("height"),
            (F.col("doc_id") % 2 == 1).alias("rle"),
        )
    )
    return M.decode_image_pixel_stats(M.synth_tga_assets(params))


def q_multimodal_jpeg_prog420(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROGRESSIVE + SUBSAMPLED JPEG decode (SOF2, 4:2:0 — the
    profile real photo encoders actually emit: multi-scan AND chroma
    subsampling together, multimodal.synth_jpeg_progressive_assets
    (sampling="420") → decode_image_pixel_stats). The interleaved DC
    scan walks Hi×Vi padded-grid luma blocks per MCU; each AC band
    scan covers only its component's OWN raster grid (T.81 A.2.2 —
    MCU padding blocks carry no AC); reconstruction replicates the
    subsampled chroma planes exactly like the baseline path. Chroma
    is constant per 16×16 macroblock in the synth, so the oracle
    recomputes every channel from the two block rules. The remaining
    progressive boundary is fractional-ratio factor mixes."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 5)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(15) + (F.col("doc_id") % 7) * 6)
            .cast("long")
            .alias("width"),
            (F.lit(11) + (F.col("doc_id") % 6) * 8)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_jpeg_progressive_assets(params, sampling="420")
    )


def q_multimodal_jpeg_422(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:2 baseline JPEG pixel decode (multimodal.
    synth_jpeg_color_assets(sampling="422") → decode_image_pixel_
    stats) — the dominant DSLR/video-still chroma layout: Y sampled
    2x1, MCU = two Y blocks + one Cb + one Cr over a 16x8 macroblock,
    the generic Hi×Vi interleave walk now covering the full T.81 1..4
    factor range with integer-ratio nearest upsampling. Chroma is
    constant per 16x8 macroblock in the synth (lossless upsample)
    while luma keeps the 8-px block gradient — the oracle recomputes
    every channel from the two block rules. The remaining JPEG
    boundary is fractional-ratio factor mixes (e.g. 3-vs-2) and
    progressive subsampling."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 7)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(18) + (F.col("doc_id") % 6) * 7)
            .cast("long")
            .alias("width"),
            (F.lit(10) + (F.col("doc_id") % 5) * 9)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_jpeg_color_assets(params, sampling="422")
    )


def q_multimodal_jpeg_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG decode WITH RESTART MARKERS (multimodal.
    synth_jpeg_restart_assets → decode_image_pixel_stats): a DRI
    segment plus cycling RST0..RST7 markers every 1-4 MCUs — each
    interval's entropy data byte-aligned with 1-padding, DC
    prediction reset per interval — the layout camera firmware emits
    on nearly every photo (r8 verdict ask #6). Intervals of 1 force a
    marker between EVERY MCU pair; the block-constant gradient makes
    the oracle a pure (width, height) formula, so the restart
    machinery must be exactly value-neutral."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 6)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(13) + (F.col("doc_id") % 6) * 7)
            .cast("long")
            .alias("width"),
            (F.lit(11) + (F.col("doc_id") % 5) * 5)
            .cast("long")
            .alias("height"),
            (F.lit(1) + F.col("doc_id") % 4).cast("long").alias("interval"),
        )
    )
    return M.decode_image_pixel_stats(M.synth_jpeg_restart_assets(params))


def q_multimodal_png_interlaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7-INTERLACED PNG decode (multimodal.
    synth_png_interlaced_assets → decode_image_pixel_stats): the
    seven-pass interlace layout real web PNGs ship with — each pass
    an independently-filtered sub-image (pass-local left/up
    neighbors, the classic interlace decoder bug), empty passes
    emitting nothing per spec. Sizes include width<8 and height 1, so
    several passes ARE empty and pass geometry is load-bearing. The
    gradient's channel sums are placement-invariant, so the same
    range(w·h) oracle as the non-interlaced lane verifies the
    decode (r8 verdict ask #6)."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 11 == 3)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(3) + (F.col("doc_id") % 7) * 5)
            .cast("long")
            .alias("width"),
            (F.lit(1) + (F.col("doc_id") % 9) * 3)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_png_interlaced_assets(params)
    )


def q_multimodal_flac_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-predictor FLAC decode (multimodal.
    synth_flac_fixed_assets → decode_audio_pcm_stats): the codec's
    compression core — per-frame predictor orders 0/1/2, raw warmup
    samples, Rice-partitioned zigzag residuals (2 partitions,
    per-partition 4-bit parameter), recurrence reconstruction — all
    bit-contiguous within the frame and CRC-verified. The remaining
    FLAC boundary is LPC subframes and stereo decorrelation."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 7)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(2) + F.col("doc_id") % 4).cast("int").alias("n_frames"),
            (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("n_channels"),
            ((F.col("doc_id") % 50) * 20 - 500)
            .cast("int")
            .alias("base_val"),
        )
    )
    return M.decode_audio_pcm_stats(M.synth_flac_fixed_assets(params))


def q_multimodal_flac_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC PCM sample decode (multimodal.synth_flac_pcm_assets →
    decode_audio_pcm_stats): real FLAC streams — STREAMINFO, framed
    CONSTANT subframes, UTF-8 frame numbers, spec CRC-8/CRC-16
    checksums all VERIFIED — decoded to exact integer sample stats.
    Narrows the audio boundary: uncompressed-PCM (WAV) and
    constant/verbatim FLAC are decodable; MP3/Ogg frames and FLAC's
    predicted subframes remain the entropy-codec edge."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 9 == 4)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(2) + F.col("doc_id") % 5).cast("int").alias("n_frames"),
            (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("n_channels"),
            ((F.col("doc_id") % 120) * 250 - 15000)
            .cast("int")
            .alias("base_val"),
        )
    )
    return M.decode_audio_pcm_stats(M.synth_flac_pcm_assets(params))


def q_multimodal_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline COLOR JPEG pixel decode (multimodal.
    synth_jpeg_color_assets → decode_image_pixel_stats): real
    three-component 4:4:4 scans — interleaved MCUs, per-component DC
    prediction, shared Annex K tables — entropy-decoded and converted
    YCbCr→RGB in fixed-point integer milli-units (no float after the
    IDCT clamp), so the oracle recomputes every channel sum from
    (width, height) alone. Narrows the JPEG boundary to subsampled
    chroma + progressive scans."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 11 == 3)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(10) + (F.col("doc_id") % 7) * 4)
            .cast("long")
            .alias("width"),
            (F.lit(9) + (F.col("doc_id") % 6) * 5)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(M.synth_jpeg_color_assets(params))


def q_multimodal_vp8_lossy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOSSY WebP (VP8 key-frame) pixel decode (multimodal.
    synth_webp_vp8_assets → decode_image_pixel_stats → operators/
    vp8.py): the full RFC 6386 key-frame machinery — boolean range
    decoder, tree-coded 16x16 DC_PRED modes, coefficient-band /
    neighbor-context DCT tokens with the no-EOB-after-zero rule,
    Y2/inverse-WHT DC plane, the 20091/35468 fixed-point inverse
    DCT, whole-MB intra prediction with the 127/129 edge rules, and
    the real skip path. Flat-per-MB construction makes decoded
    pixels a pure closed form of (asset_id, mb_x, mb_y); RGB via the
    repo's integer BT.601 convention with point 4:2:0 chroma
    upsampling (chroma is constant per MB, so upsampling is
    value-neutral). Closes the lossy-WebP image boundary; B_PRED +
    loop filter remain declared in vp8.py."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 11)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(14) + (F.col("doc_id") % 6) * 9)
            .cast("long")
            .alias("width"),
            (F.lit(9) + (F.col("doc_id") % 5) * 8)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(M.synth_webp_vp8_assets(params))


def q_multimodal_vp8_bpred(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lossy WebP with PER-SUBBLOCK intra (r13 — multimodal.
    synth_webp_vp8_bpred_assets → operators/vp8.py): macroblocks
    checkerboard between B_PRED (the §11.2 bmode tree with
    above/left context addressing, 16 B_DC_PRED sub-blocks decoded
    as plane-3 tokens with their own DC and NO Y2 block, sequential
    sub-block reconstruction) and 16x16 DC_PRED (the Y2/WHT path),
    with the implied-submode neighbor rule live at every mode
    boundary. Both paths land identical flat per-MB targets, so the
    mixed-mode frame keeps the closed-form oracle. Closes the
    B_PRED boundary vp8.py declared in r12."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 5)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(18) + (F.col("doc_id") % 5) * 11)
            .cast("long")
            .alias("width"),
            (F.lit(10) + (F.col("doc_id") % 6) * 9)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_vp8_bpred_assets(params)
    )


def q_multimodal_vp8_normal_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lossy WebP through the NORMAL loop filter (r13 — multimodal.
    synth_webp_vp8_nf_assets → operators/vp8.py §15.2-3): luma
    stripes per MB row with |Δ| ≤ 3 between stripes, so every
    horizontal MB edge passes the six-bound filter mask without
    high-edge-variance pixels and the 27/18/9-tap filter adjusts
    exactly two pixel rows per side (the 9-tap rounds to zero) —
    the filtered frame stays a closed form the oracle reproduces
    with the same floor((54d+63)/128)/floor((36d+63)/128) taps.
    Vertical and interior edges are value-flat no-ops by
    construction. Closes the normal-filter boundary vp8.py declared
    in r12 (the SIMPLE filter landed then)."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 9)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(17) + (F.col("doc_id") % 6) * 7)
            .cast("long")
            .alias("width"),
            (F.lit(24) + (F.col("doc_id") % 5) * 16)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_vp8_nf_assets(params)
    )


def q_multimodal_vp8_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VP8 SEGMENTATION decode (r13 — multimodal.
    synth_webp_vp8_seg_assets → operators/vp8.py): the §9.3 header
    (absolute-mode per-segment quantizer features), the §10
    tree-coded per-MB segment map read ahead of the skip flag, and
    per-segment dequantization — four quantizers live in one frame,
    with the synth's exact-level solver landing identical flat
    targets under each, so the oracle is quantizer-blind. Closes
    the segmentation boundary decode_frame declared through r12."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 12)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(21) + (F.col("doc_id") % 5) * 13)
            .cast("long")
            .alias("width"),
            (F.lit(12) + (F.col("doc_id") % 6) * 11)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_vp8_seg_assets(params)
    )


def q_multimodal_vp8l_predictor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VP8L PREDICTOR-transform decode (r13 — multimodal.
    synth_webp_vp8l_predictor_assets → _webp_lossless_pixel_sums):
    4x4 tiles cycling through all 14 spatial predictor modes,
    delivered via a tile-mode entropy SUB-IMAGE (the same
    pixel-stream machinery as the main image, exercised at level>0),
    main image stored as mod-256 residuals. Losslessness makes the
    oracle the target formula itself — transform-blind. Narrows the
    VP8L boundary to color/color-indexing transforms, meta-Huffman
    and the 2-D distance map."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 4)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(14) + (F.col("doc_id") % 6) * 9)
            .cast("long")
            .alias("width"),
            (F.lit(9) + (F.col("doc_id") % 5) * 8)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_vp8l_predictor_assets(params)
    )


def q_multimodal_vp8l_color(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VP8L CROSS-COLOR transform decode (r13 — multimodal.
    synth_webp_vp8l_color_assets → _webp_lossless_pixel_sums):
    per-tile (green_to_red, green_to_blue, red_to_blue) int8
    multipliers from the element entropy sub-image, the 3.5
    fixed-point ColorTransformDelta applied red-first so the r2b
    term sees reconstructed red. Transform-blind closed-form
    oracle; with the predictor lane this narrows VP8L to
    color-indexing, meta-Huffman, and the 2-D distance map."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 1)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(15) + (F.col("doc_id") % 7) * 8)
            .cast("long")
            .alias("width"),
            (F.lit(10) + (F.col("doc_id") % 5) * 9)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_vp8l_color_assets(params)
    )


def q_multimodal_vp8l_palette(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VP8L COLOR-INDEXING transform decode (r13 — multimodal.
    synth_webp_vp8l_palette_assets): K-color palette (K > 16, no
    sub-byte bundling) transmitted as the spec's delta-coded palette
    entropy image, green-channel indices resolved through it.
    Closed-form palette + index oracle."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 6)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(13) + (F.col("doc_id") % 7) * 9)
            .cast("long")
            .alias("width"),
            (F.lit(11) + (F.col("doc_id") % 5) * 7)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_vp8l_palette_assets(params)
    )


def q_multimodal_vp8l_meta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VP8L META-HUFFMAN decode (r13 — multimodal.
    synth_webp_vp8l_meta_assets): two entropy groups selected per
    pixel position by a tile group sub-image, with DISJOINT green
    alphabets so wrong group selection cannot even resolve symbols.
    With predictor/cross-color/color-indexing this leaves only the
    2-D distance map and sub-byte bundling as VP8L boundaries."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 0)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(16) + (F.col("doc_id") % 6) * 8)
            .cast("long")
            .alias("width"),
            (F.lit(9) + (F.col("doc_id") % 5) * 10)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_vp8l_meta_assets(params)
    )


def q_multimodal_vp8l_bundled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VP8L SUB-BYTE PIXEL BUNDLING decode (r13 — multimodal.
    synth_webp_vp8l_bundled_assets): 2/4/16-color palettes pack
    8/4/2 LSB-first indices per coded green byte and the level-0
    stream decodes at the reduced width; asset_id % 3 cycles all
    three bit regimes. The 2-D distance map is derived (r14 —
    multimodal_vp8l_dist) and bundling composes with the palette
    transform (multimodal_vp8l_bundled_palette), so VP8L decode is
    feature-complete for still images."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 3)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(12) + (F.col("doc_id") % 7) * 8)
            .cast("long")
            .alias("width"),
            (F.lit(10) + (F.col("doc_id") % 5) * 9)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_vp8l_bundled_assets(params)
    )


def q_multimodal_vp8l_bundled_palette(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VP8L BUNDLING COMPOSED WITH THE PREDICTOR TRANSFORM (r14 —
    multimodal.synth_webp_vp8l_bundled_palette_assets): the stream
    reads [color-indexing (2/4/16-color palette → sub-byte
    bundling), predictor], so the predictor's tile sub-image is
    sized by the REDUCED width and its inverse reconstructs the
    packed-index bytes before unbundling — the read-time width
    capture the spec's xsize update implies. The common real-corpus
    small-palette shape; closes r13's declared composition
    boundary."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 5)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(12) + (F.col("doc_id") % 7) * 8)
            .cast("long")
            .alias("width"),
            (F.lit(10) + (F.col("doc_id") % 5) * 9)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_vp8l_bundled_palette_assets(params)
    )


def q_multimodal_exif(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXIF metadata extraction (r14 — multimodal.
    synth_jpeg_exif_assets → decode_exif_stats): APP1 Exif TIFF
    structure in BOTH byte orders (asset parity), IFD0
    (Make out-of-line ASCII, Orientation, DateTime) + Exif sub-IFD
    (pixel dims, ISO) — the rotation/partition keys an image
    pipeline filters by before pixel work. RATIONAL-typed tags
    (GPS coordinates, exposure/f-number) are deliberately out of
    scope — the parser skips them (multimodal.py `_exif_fields`).
    Closed-form fields of (asset_id, width, height)."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 8)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(320) + (F.col("doc_id") % 9) * 160)
            .cast("long")
            .alias("width"),
            (F.lit(240) + (F.col("doc_id") % 6) * 120)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_exif_stats(M.synth_jpeg_exif_assets(params))


def q_multimodal_exif_oriented(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXIF-AWARE PIXEL DECODE (r15 — multimodal.
    synth_jpeg_exif_oriented_assets → decode_image_oriented_stats):
    baseline grayscale JPEGs stored in CAMERA space with an APP1
    Orientation tag cycling all 8 values; the decoder entropy-
    decodes the scan, applies the orientation, and reports
    DISPLAY-space dims + pixel sum + the position-weighted checksum
    ``Σ v·(1 + x + 2y)`` — what a real image pipeline must produce
    before any vision model (stored dims mis-bucket every rotated
    photo). The oracle recomputes everything from the display
    closed form; a decoder that skipped the rotation would report
    camera-space values and mismatch (pinned per-orientation in
    pytest)."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 7)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(16) + (F.col("doc_id") % 5) * 8)
            .cast("long")
            .alias("width"),
            (F.lit(8) + (F.col("doc_id") % 4) * 8)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_oriented_stats(
        M.synth_jpeg_exif_oriented_assets(params)
    )


def q_multimodal_video_phash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-FRAME VIDEO pHASH (r15 — multimodal.
    synth_avi_dib_phash_assets → decode_video_frame_phash): the
    frame-sample-then-hash step of video dedup — walk the AVI
    container, decode each uncompressed DIB frame (bottom-up BGR24),
    integer-grayscale, and emit the 63-bit DCT-sign pHash per frame
    (one-to-many Arrow shape; the hashes feed hash_band_pairs like
    any 64-bit signature). Frame f of asset a carries the designed
    signature of id a·11 + f, which the oracle replays."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 2)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(2) + F.col("doc_id") % 3).cast("int").alias(
                "n_frames"
            ),
        )
    )
    return M.decode_video_frame_phash(
        M.synth_avi_dib_phash_assets(params)
    )


def q_multimodal_phash_pooled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PHASH OVER LARGER IMAGES (r15): the production pHash shape —
    a 96x96 grayscale PGM is MEAN-POOLED (integer block mean) down
    to 32x32 inside decode_image_phash before the DCT. The synth
    replicates the designed 32x32 grid 3x, so pooling recovers it
    exactly and the oracle stays the closed-form signature; a real
    photo pools to its downsampled content the same way. Proves the
    resize step is real pixel work, not a byte-truncation stub."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 5)
        .select(F.col("doc_id").alias("asset_id"))
    )
    return M.decode_image_phash(
        M.synth_pgm_phash_assets(params, scale=3)
    )


def q_text_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOJIBAKE REPAIR (r15 — operators.text.fix_mojibake): the ftfy
    core case as pure JVM expressions — UTF-8 bytes mis-decoded as
    cp1252/latin-1 ('CafÃ©' → 'Café', 'donâ€™t' → 'don’t' through
    the cp1252 translate step) repaired by
    decode(encode(translate(s), latin-1), utf-8), GATED by a
    conservative validity regex so genuine accents ('déjà vu') and
    broken sequences (lone 'Ã ') pass through untouched and
    ANSI-mode decode never sees malformed bytes. Case 5 (r16) pairs
    a real mojibake sequence with an astral-plane emoji — the
    residue guard must class it unfixable (the r15 BMP-only guard
    let it through and encode(latin-1) killed the stage). The
    oracle emits the expected fixed literals, so over- or
    under-triggering mismatches."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 11)
    cases = docs.select(
        "doc_id",
        F.expr(
            """CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN 'CafÃ© ' || CAST(doc_id AS STRING)
               WHEN 1 THEN 'donâ€™t stop ' || CAST(doc_id AS STRING)
               WHEN 2 THEN 'plain ascii ' || CAST(doc_id AS STRING)
               WHEN 3 THEN 'déjà vu ' || CAST(doc_id AS STRING)
               WHEN 4 THEN 'mix Ã“k ' || CAST(doc_id AS STRING)
               ELSE 'CafÃ© \U0001F600 ' || CAST(doc_id AS STRING) END"""
        ).alias("text"),
    )
    return TX.fix_mojibake(cases)


def q_text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNESER-NEY BIGRAM LM (r15 — operators.text.kneser_ney_bigram):
    interpolated KN smoothing (d = 3/4) over the documents corpus —
    the real n-gram LM behind perplexity filtering, beyond the MLE
    ``text_bigram_lm``. The probability reduces to one exact integer
    numerator over a per-word-constant denominator, so ranking
    orders on integers and the single final division replays
    bit-identically in DuckDB. Top-5 continuations of the 20 most
    frequent left words."""
    return TX.kneser_ney_bigram(
        _t(spark, sf_dir, "documents"), k=5, top_words=20
    )


def q_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNET PERPLEXITY BUCKETS (r16 — operators.text
    .ccnet_perplexity_buckets): the canonical public
    corpus-filtering recipe (Wenzek et al. 2020) as a pure
    composition of two green lanes — marker-heuristic language ID ×
    the integer-formulated Kneser-Ney bigram LM — scoring every
    document under its OWN language's LM and splitting each
    language into equal-count head/middle/tail thirds. Per-bigram
    surprisal integer-rounds to 1/10000 nats before summation, the
    per-doc score is a pure integer floor-division to milli-nats,
    and bucket cutoffs are count-based histogram thresholds (no
    quantile interpolation), so the ENTIRE head/middle/tail
    assignment replays bit-for-bit in the oracle."""
    return TX.ccnet_perplexity_buckets(_t(spark, sf_dir, "documents"))


def q_zip_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP MEMBER WALK (r15 — sources.zipdoc.synth_zip_assets →
    list_zip_members): the container under every office/EPUB
    document — hand-written EOCD tail scan → central directory →
    LOCAL-header data offsets (local name/extra lengths govern, the
    classic interop trap) → stored + raw-deflate members, CRC-32
    verified (a flipped bit poisons the archive, never silently
    wrong output). Three members per asset (stored a.txt, deflated
    dir/b.bin, deflated c.txt) with closed-form contents; the parser
    is interop-pinned against stdlib-zipfile archives in pytest.
    One-to-many Arrow expansion; payload never shuffles."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 8)
        .select(F.col("doc_id").alias("asset_id"))
    )
    return ZD.list_zip_members(ZD.synth_zip_assets(params))


def q_docx_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX TEXT EXTRACTION (r15 — sources.zipdoc.synth_docx_assets →
    extract_docx_text): ZIP walk + WordprocessingML — paragraphs are
    <w:p> blocks, text lives in <w:t> runs split mid-paragraph (run
    re-joining proven), <w:tab/> → TAB on even paragraphs and
    <w:br/> → newline on odd ones, XML entities decode. The oracle
    rebuilds the EXACT extracted text (string_agg over closed-form
    paragraphs), so one surviving tag or missed entity
    mismatches."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 9)
        .select(F.col("doc_id").alias("asset_id"))
    )
    return ZD.extract_docx_text(ZD.synth_docx_assets(params))


def _bt_oracle(n_iter: int = 3) -> str:
    """Generated Bradley-Terry MM replay — one (denominator, raw,
    renormalize) CTE triple per iteration, the PCA-power pattern."""
    head = """
WITH m AS (
  SELECT doc_id % 5 AS a,
         (doc_id % 5 + 1 + (doc_id // 5) % 4) % 5 AS b,
         CASE WHEN doc_id % 3 > 0 THEN doc_id % 5
              ELSE (doc_id % 5 + 1 + (doc_id // 5) % 4) % 5 END AS w
  FROM documents WHERE doc_id % 13 = 1
),
d AS (SELECT a AS i, b AS j, w FROM m
      UNION ALL SELECT b, a, w FROM m),
pairs AS (SELECT i, j, count(*) AS n FROM d GROUP BY i, j),
wins AS (SELECT i, count(*) AS wi FROM d WHERE w = i GROUP BY i),
cnt AS (SELECT count(DISTINCT i) AS k FROM pairs),
r0 AS (SELECT DISTINCT i, 1.0 AS r FROM pairs)"""
    parts = [head]
    for t in range(1, n_iter + 1):
        parts.append(f""",
den{t} AS (
  SELECT p.i, sum(p.n / (ri.r + rj.r)) AS den
  FROM pairs p JOIN r{t - 1} ri ON ri.i = p.i
  JOIN r{t - 1} rj ON rj.i = p.j GROUP BY p.i
),
raw{t} AS (
  SELECT den{t}.i, coalesce(wins.wi, 0) / den{t}.den AS raw
  FROM den{t} LEFT JOIN wins ON wins.i = den{t}.i
),
r{t} AS (
  SELECT i, raw / (SELECT sum(raw) FROM raw{t})
            * (SELECT k FROM cnt) AS r
  FROM raw{t}
)""")
    parts.append(
        f"\nSELECT i AS item, round(r, 4) AS rating FROM r{n_iter}"
    )
    return "".join(parts)


def q_bitext_length_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEXT LENGTH-RATIO GATE (r15 — operators.text
    .bitext_length_gate): the first MT-corpus filter — designed
    pairs cycle aligned (ratio ≈ 1000, keep), 4× over-long target
    (4000 milli, drop) and ¼ under-short (≤ 250 milli, drop); pure
    integer milli arithmetic."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 9)
    pairs = docs.select(
        "doc_id",
        F.expr(
            r"""array_join(slice(split(trim(lower(text)), '\\s+'),
                 1, CAST(8 + doc_id % 5 AS INT)), ' ')"""
        ).alias("src"),
        F.expr(
            r"""array_join(transform(sequence(1,
                 CAST(CASE CAST(doc_id % 4 AS INT)
                   WHEN 1 THEN (8 + doc_id % 5) * 4
                   WHEN 2 THEN greatest(1, (8 + doc_id % 5) div 4)
                   ELSE 8 + doc_id % 5 + 1 END AS INT)),
                 i -> 'w' || CAST(i AS STRING)), ' ')"""
        ).alias("tgt"),
    )
    return TX.bitext_length_gate(pairs).drop("src", "tgt")


def q_atom_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATOM FEED PARSE (r15 — operators.cdx.parse_atom): RFC 4287 —
    the entry link is an ATTRIBUTE (Spark-XML ``_href`` convention)
    and <updated> is ISO-8601-Z cast to absolute epoch seconds;
    absent summary → null length."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 7)
    feeds = docs.select(
        F.col("doc_id").alias("feed_id"),
        F.expr(
            """'<feed xmlns="http://www.w3.org/2005/Atom"><title>AF '
               || CAST(doc_id AS STRING) || '</title>'
               || array_join(transform(
                    sequence(0, CAST(1 + doc_id % 2 AS INT)),
                    i -> '<entry><title>e' || CAST(i AS STRING)
                      || ' f' || CAST(doc_id AS STRING) || '</title>'
                      || '<link href="https://a' || CAST(doc_id % 7 AS STRING)
                      || '.example/e/' || CAST(i AS STRING) || '"/>'
                      || '<updated>2024-01-15T06:30:'
                      || lpad(CAST((doc_id + i) % 60 AS STRING), 2, '0')
                      || 'Z</updated>'
                      || CASE WHEN i % 2 = 0
                         THEN '<summary>'
                           || repeat('s', CAST(1 + (doc_id + i) % 4 AS INT))
                           || '</summary>'
                         ELSE '' END
                      || '</entry>'), '')
               || '</feed>'"""
        ).alias("xml"),
    )
    return CDX.parse_atom(feeds)


def q_json_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON KEY PROFILE (r15 — operators.text.json_key_profile):
    schema discovery over raw JSONL — map<string,string> parse,
    key explode, per-key presence + type-guess counts; designed
    docs carry always-present int/string/bool keys and an
    evens-only float key."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 2)
    cases = docs.select(
        "doc_id",
        F.expr(
            """'{"id": ' || CAST(doc_id AS STRING)
               || ', "name": "n' || CAST(doc_id AS STRING) || '"'
               || CASE WHEN doc_id % 2 = 0
                  THEN ', "score": ' || CAST(doc_id % 5 AS STRING)
                    || '.5' ELSE '' END
               || ', "flag": '
               || CASE WHEN doc_id % 3 = 0 THEN 'true'
                  ELSE 'false' END || '}'"""
        ).alias("json"),
    )
    return TX.json_key_profile(cases)


def q_text_normalize_punct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUNCT NORMALIZATION (r15 — operators.text.normalize_punct):
    typographic folding (curly quotes/dashes/NBSP via one translate,
    expanding ellipsis via one regexp) — tokenizer-vocab hygiene;
    %4==1 docs are plain ASCII and must pass through unchanged."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 3)
    cases = docs.select(
        "doc_id",
        F.expr(
            """CASE WHEN doc_id % 4 = 1
               THEN 'plain ' || CAST(doc_id AS STRING)
               ELSE '‘x’ “y” ' || CAST(doc_id AS STRING) || ' –…'
               END"""
        ).alias("text"),
    )
    return TX.normalize_punct(cases).drop("text")


def q_rss_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS 2.0 FEED PARSE (r15 — operators.cdx.parse_rss): the
    news/blog corpus source next to sitemap.xml — from_xml against a
    typed channel/item schema, RFC-822 pubDate (English day/month
    names, GMT zone) parsed to exact epoch seconds (the
    cross-engine-stable rendering), absent description → null
    length. Designed feeds carry 2-3 items with closed-form
    fields."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 4)
    feeds = docs.select(
        F.col("doc_id").alias("feed_id"),
        F.expr(
            """'<rss version="2.0"><channel><title>Feed '
               || CAST(doc_id AS STRING) || '</title>'
               || array_join(transform(
                    sequence(0, CAST(1 + doc_id % 2 AS INT)),
                    i -> '<item><title>Item ' || CAST(i AS STRING)
                      || ' f' || CAST(doc_id AS STRING) || '</title>'
                      || '<link>https://f' || CAST(doc_id % 7 AS STRING)
                      || '.example/i/' || CAST(i AS STRING) || '</link>'
                      || '<pubDate>Mon, 15 Jan 2024 06:30:'
                      || lpad(CAST((doc_id + i) % 60 AS STRING), 2, '0')
                      || ' GMT</pubDate>'
                      || CASE WHEN i % 2 = 0
                         THEN '<description>'
                           || repeat('d', CAST(1 + (doc_id + i) % 5 AS INT))
                           || '</description>'
                         ELSE '' END
                      || '</item>'), '')
               || '</channel></rss>'"""
        ).alias("xml"),
    )
    return CDX.parse_rss(feeds)


def q_rank_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRADLEY-TERRY RATINGS (r15 — operators.sampling
    .bradley_terry): the RLHF-leaderboard model — 3 Hunter-MM
    rounds over designed 5-item pairwise matches (outcomes biased
    2:1 toward the first side); per round the TINY ratings table
    broadcasts into the pair aggregate, match data shuffles exactly
    once. The oracle is a GENERATED per-iteration CTE replay."""
    from geniepool_etl_spark.operators import sampling as SMP

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 1)
    matches = docs.select(
        F.expr("doc_id % 5").alias("a"),
        F.expr(
            "(doc_id % 5 + 1 + (doc_id div 5) % 4) % 5"
        ).alias("b"),
        F.expr(
            """CASE WHEN doc_id % 3 > 0 THEN doc_id % 5
               ELSE (doc_id % 5 + 1 + (doc_id div 5) % 4) % 5
               END"""
        ).alias("winner"),
    )
    return SMP.bradley_terry(matches, n_iter=3)


def q_pref_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR PREP (r15 — operators.sampling
    .build_preference_pairs): DPO data — per prompt elect
    highest/lowest-rated candidates with deterministic id
    tie-breaks as struct max/min inside ONE grouped aggregate (no
    window over the prompt key); zero-margin prompts drop."""
    from geniepool_etl_spark.operators import sampling as SMP

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 10)
    ratings = docs.select(
        F.col("doc_id").alias("prompt_id"),
        F.explode(
            F.expr("sequence(0, CAST(1 + doc_id % 3 AS INT))")
        ).alias("cand_id"),
    ).select(
        "prompt_id",
        F.col("cand_id").cast("long").alias("cand_id"),
        ((F.col("prompt_id") + 7 * F.col("cand_id")) % 10)
        .alias("rating"),
    )
    return SMP.build_preference_pairs(ratings)


def q_label_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA (r15 — operators.sampling.cohen_kappa):
    inter-annotator agreement for labeled-data QC — exact integer
    contingency algebra (κ as one N²-scaled ratio) over designed
    correlated annotator labels."""
    from geniepool_etl_spark.operators import sampling as SMP

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 12)
    labels = docs.select(
        (F.col("doc_id") % 3).alias("label_a"),
        ((F.col("doc_id") + F.floor(F.col("doc_id") / 7)) % 3)
        .alias("label_b"),
    )
    return SMP.cohen_kappa(labels)


def q_text_repair_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATED-JSON REPAIR (r15 — operators.text.repair_json): the
    LLM-structured-output post-processor — a character fold tracks
    (in_string, escape, bracket stack), then appends the minimal
    closing suffix (close string → drop trailing comma → complete
    dangling ':' with null → close stack); validity re-checked with
    try_parse_json. Designed cases cycle nested-array truncation,
    mid-string (with brace INSIDE the string), trailing comma,
    dangling colon, and already-complete. The oracle emits the
    exact expected repaired literals with is_valid TRUE across the
    board — an over- or under-close mismatches."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 11)
    cases = docs.select(
        "doc_id",
        F.expr(
            """CASE CAST(doc_id % 5 AS INT)
               WHEN 0 THEN '{"a": ' || CAST(doc_id AS STRING)
                 || ', "b": [2, ' || CAST(doc_id % 9 AS STRING)
               WHEN 1 THEN '{"k": "v' || CAST(doc_id AS STRING)
                 || '{x'
               WHEN 2 THEN '{"a": ' || CAST(doc_id AS STRING) || ','
               WHEN 3 THEN '{"a' || CAST(doc_id AS STRING) || '":'
               ELSE '{"done": ' || CAST(doc_id AS STRING) || '}'
               END"""
        ).alias("text"),
    )
    return TX.repair_json(cases).drop("text")


def q_text_lang_script_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANG↔SCRIPT CONSISTENCY (r15): compose script_profile with
    the declared ``lang`` column — the mislabeled-document gate (a
    'zh' doc whose text is Latin script is flagged). On THIS
    synthetic corpus every text is ASCII, so zh-labeled docs are
    exactly the inconsistent set — the lane proves the gate fires
    on real label/content disagreement, not on designed toys."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 8)
    prof = TX.script_profile(docs.select("doc_id", "lang", "text"))
    expected = F.when(
        F.col("lang") == "zh", F.lit("cjk")
    ).otherwise(F.lit("latin"))
    return prof.select(
        "doc_id",
        "lang",
        "script",
        expected.alias("expected_script"),
        (F.col("script") == expected).alias("consistent"),
    )


def q_sim_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-BIT BINARY EMBEDDINGS (r15 — operators.similarity
    .binary_sign_topk): sign quantization packs 63 bits into one
    BIGINT (top-bit-safe under ANSI, the SimHash rule), candidate
    distance = bit_count(xor) — the 64×-compression retrieval path;
    queries broadcast, ranking ascends (hamming, id)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.binary_sign_topk(emb, emb.where("vec_id < 8"), k=5)


def q_text_strip_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKDOWN STRIP (r15 — operators.text.strip_markdown):
    README/wiki corpora → plain prose — fenced code DROPS, links/
    images reduce to their text, headers/quotes/emphasis unwrap,
    blank runs collapse; fixed regexp_replace chain, zero UDFs. The
    oracle emits the exact expected plain text."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 0)
    cases = docs.select(
        "doc_id",
        F.expr(
            """'# T' || CAST(doc_id AS STRING)
               || '\n\nbody **b' || CAST(doc_id AS STRING)
               || '** see [l' || CAST(doc_id AS STRING)
               || '](http://x/' || CAST(doc_id AS STRING)
               || ')\n\n```\nsecret' || CAST(doc_id AS STRING)
               || '\n```\n\n> q' || CAST(doc_id AS STRING)"""
        ).alias("text"),
    )
    return TX.strip_markdown(cases).drop("text")


def q_text_scrub_invisibles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INVISIBLE-CHAR SCRUB (r15 — operators.text.scrub_invisibles):
    zero-width/BOM/soft-hyphen removal via ONE translate with an
    exact removed-count; designed texts carry doc_id%4 ZWSPs plus a
    soft hyphen on even docs."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 6)
    cases = docs.select(
        "doc_id",
        F.expr(
            "'x' || repeat('​', CAST(doc_id % 4 AS INT)) || 'y'"
            " || CASE WHEN doc_id % 2 = 0 THEN '­' ELSE '' END"
            " || CAST(doc_id AS STRING)"
        ).alias("text"),
    )
    return TX.scrub_invisibles(cases).drop("text")


def q_chat_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSATION LINT (r15 — operators.packing
    .lint_conversations): the SFT validation gate — starts-with-
    user + strict alternation + no empty turns + ≥1 assistant, all
    as ONE grouped aggregate (alternation-from-start ≡ role[turn] ==
    parity map on 0-based turns — no window, no sort). %7 convs
    carry a role violation, %11 convs an empty last turn."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 5)
    msgs = docs.select(
        F.col("doc_id").alias("conv_id"),
        F.posexplode(
            F.expr(
                """transform(sequence(0, CAST(1 + doc_id % 3 AS INT)),
                     t -> named_struct(
                       'role', CASE WHEN t % 2 = 0 THEN 'user'
                         WHEN doc_id % 7 = 0 AND t = 1 THEN 'user'
                         ELSE 'assistant' END,
                       'text', CASE WHEN doc_id % 11 = 0
                         AND t = 1 + doc_id % 3 THEN ''
                         ELSE 't' || CAST(t AS STRING) || ' '
                           || CAST(doc_id AS STRING) END))"""
            )
        ).alias("turn", "m"),
    ).select("conv_id", "turn", "m.role", "m.text")
    return PK.lint_conversations(msgs)


def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING (r15 — operators.similarity
    .hard_negatives): DPR/SimCSE contrastive prep — per (query,
    positive) pair the top-3 highest-cosine vectors excluding both;
    designed pairs (q, q+100) over the embeddings table; query bag
    broadcast, corpus never moves."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = emb.where("vec_id < 6").select(
        F.col("vec_id").alias("q_id"),
        (F.col("vec_id") + 100).alias("pos_id"),
    )
    return S.hard_negatives(emb, pairs, k=3)


def q_csv_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV DIALECT SNIFFING (r15 — sources.sniff.sniff_csv_dialect):
    the ingestion-time dialect guess (stdlib csv.Sniffer, Spark-
    first) — quote-stripped per-line field counts per candidate
    delimiter, first consistent candidate in priority order wins,
    header inferred from a numeric-free first line over a numeric
    second. One codegen'd projection, zero UDFs. Designed bodies
    cycle comma+header / semicolon-numeric / tab-with-quoted-comma /
    pipe / no-delimiter, so every verdict class occurs."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 9)
    cases = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.expr(
            """CASE CAST(doc_id % 5 AS INT)
               WHEN 0 THEN 'name,age,c' || CAST(doc_id AS STRING)
                 || '\nbob,' || CAST(doc_id % 90 AS STRING)
                 || ',nyc\nann,22,sf'
               WHEN 1 THEN CAST(doc_id AS STRING)
                 || ';2;3\n4;5;' || CAST(doc_id % 7 AS STRING)
               WHEN 2 THEN 'a\tb' || CAST(doc_id AS STRING)
                 || '\n"x,y"\tc'
               WHEN 3 THEN 'p|q|r' || CAST(doc_id AS STRING)
                 || '\n1|2|' || CAST(doc_id % 5 AS STRING)
               ELSE 'plain text ' || CAST(doc_id AS STRING)
                 || '\nno table here' END"""
        ).alias("body"),
    )
    return SNF.sniff_csv_dialect(cases)


def q_frontier_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAWL-FRONTIER COMPOSITION (r15): the three web lanes in ONE
    plan — candidate URLs (with a www./bare VARIANT split by doc
    parity) → RFC 9309 robots gate (same rule set as `robots_gate`,
    keyed on the bare domain) → SURT urlkey dedup (www strip + path
    lowercase collapse the variants) → per-urlkey variant count +
    min-id canonical election. What a crawler actually runs before
    fetching; the oracle replays gate + SURT closed-form."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 3)
    urls = docs.select(
        F.col("doc_id").alias("url_id"),
        F.concat(
            F.lit("site"), (F.col("doc_id") % 4).cast("string"),
            F.lit(".example"),
        ).alias("domain"),
        F.expr(
            """CASE CAST(doc_id % 5 AS INT)
               WHEN 0 THEN '/private/x' || CAST(doc_id % 7 AS STRING)
               WHEN 1 THEN '/p/' || CAST(doc_id % 20 AS STRING)
               WHEN 2 THEN '/private/ok'
               WHEN 3 THEN '/static/img' || CAST(doc_id % 3 AS STRING)
                           || '.png'
               ELSE '/p' END"""
        ).alias("path"),
    )
    doms = spark.range(4).select(
        F.concat(
            F.lit("site"), F.col("id").cast("string"), F.lit(".example")
        ).alias("domain"),
        F.concat(
            F.lit(
                "# synth robots\nUser-agent: *\n"
                "Disallow: /private*  # keep out\n"
                "Allow: /private/ok$\nDisallow: /p/1*\n"
            ),
            F.when(
                F.col("id") % 2 == 1, F.lit("Disallow: *img1*\n")
            ).otherwise(F.lit("")),
            F.lit("Crawl-delay: 10\n"),
        ).alias("robots_txt"),
    )
    gated = RB.robots_filter(urls, RB.parse_robots_txt(doms))
    kept = gated.where(F.col("allowed"))
    full = kept.select(
        "url_id",
        F.concat(
            F.lit("https://"),
            F.when(F.col("url_id") % 2 == 0, F.lit("www."))
            .otherwise(F.lit("")),
            F.col("domain"),
            F.col("path"),
        ).alias("url"),
    )
    keyed = full.select("url_id", CDX.surt_key(F.col("url")).alias("urlkey"))
    return keyed.groupBy("urlkey").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.min("url_id").alias("canonical_url_id"),
    )


def q_text_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 SPAN-CORRUPTION LAYOUT (r15 — operators.text
    .span_corruption_layout): deterministic block-local span plan —
    one hash-length (1-3) span per full 10-token block, closed-form
    encoder/decoder lengths; the only randomness is
    md5(doc_id:block), so the oracle replays every span with the
    portable-hash SQL rendering."""
    return TX.span_corruption_layout(
        _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 3)
    )


def q_sample_mixture_temperature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TEMPERATURE MIXTURE (r15 — operators.sampling
    .mixture_temperature): XLM-R-style exponent-smoothed domain
    weights p_i ∝ n_i^0.5 with effective-epoch duplication factors —
    one |sources|-row aggregate + arithmetic."""
    from geniepool_etl_spark.operators import sampling as SMP

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.size(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("n_tokens"),
    )
    return SMP.mixture_temperature(docs, alpha=0.5)


def q_text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF SLOPE (r15 — operators.text.zipf_slope): least-squares
    slope of ln(freq) vs ln(rank) over the top-200 words — the
    corpus-health diagnostic (natural text ≈ −1); top-k via
    orderBy+limit (TakeOrderedAndProject), regression as ONE
    closed-form aggregate."""
    return TX.zipf_slope(_t(spark, sf_dir, "documents"), top_k=200)


def q_chat_tree_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSATION-TREE FLATTENING (r15 — operators.packing
    .flatten_chat_trees): OpenAssistant-style branching trees → one
    row per root→leaf path (transcript, depth, assistant turns).
    Designed trees branch at the root (second completion on even
    convs) and extend a follow-up turn pair on %3 convs, so depths
    2 and 4 and sibling leaves all occur. The Spark side unrolls
    fixed-depth child joins with a left-anti 'no children' finish
    probe; the oracle is a recursive CTE over the identical
    message table."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 2)
    msgs = docs.select(
        F.explode(
            F.expr(
                """filter(array(
                     named_struct('msg_id', doc_id * 10,
                       'parent_id', CAST(NULL AS BIGINT),
                       'role', 'user', 'text', 'q ' || doc_id),
                     named_struct('msg_id', doc_id * 10 + 1,
                       'parent_id', doc_id * 10,
                       'role', 'assistant', 'text', 'a1 ' || doc_id),
                     CASE WHEN doc_id % 2 = 0 THEN
                       named_struct('msg_id', doc_id * 10 + 2,
                         'parent_id', doc_id * 10,
                         'role', 'assistant', 'text', 'a2 ' || doc_id)
                     END,
                     CASE WHEN doc_id % 3 = 0 THEN
                       named_struct('msg_id', doc_id * 10 + 3,
                         'parent_id', doc_id * 10 + 1,
                         'role', 'user', 'text', 'f ' || doc_id)
                     END,
                     CASE WHEN doc_id % 3 = 0 THEN
                       named_struct('msg_id', doc_id * 10 + 4,
                         'parent_id', doc_id * 10 + 3,
                         'role', 'assistant', 'text', 'a3 ' || doc_id)
                     END), s -> s IS NOT NULL)"""
            )
        ).alias("m"),
        F.col("doc_id").alias("conv_id"),
    ).select(
        "conv_id", "m.msg_id", "m.parent_id", "m.role", "m.text"
    )
    out = PK.flatten_chat_trees(msgs, max_depth=6)
    return out.select(
        "conv_id", "leaf_msg_id",
        F.col("depth").cast("int").alias("depth"),
        "path_text",
        F.col("n_assistant").cast("int").alias("n_assistant"),
    )


def q_multimodal_gif_anim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED GIF COMPOSITING (r15 — multimodal
    .synth_gif_anim_assets → decode_gif_anim_stats): completes the
    animation story next to the two animated-WebP lanes — GCE
    disposal/transparency/delay parse, full LZW frame decode, GIF
    OVER (transparent-index pixels keep the canvas), and
    RESTORE-BACKGROUND disposal proven by the 3rd frame showing bg
    under its transparent pixels; a NETSCAPE loop extension
    exercises the skip path. The oracle replays compositing
    PER-PIXEL (canvas small enough that no palette channel wraps),
    so a single mis-composited pixel mismatches."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 0)
        .select(F.col("doc_id").alias("asset_id"))
    )
    return M.decode_gif_anim_stats(M.synth_gif_anim_assets(params))


def q_pack_bins_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FFD BIN PACKING (r15 — operators.packing.pack_bins_ffd): the
    padding-minimizing packer — whole docs into 512-token bins per
    source group, First-Fit-Decreasing over (word-count desc, id)
    with deterministic tie-breaks; one hash shuffle co-locates each
    group, the greedy runs on metadata only in applyInPandas. The
    oracle REPLAYS the sequential greedy exactly with a recursive
    CTE carrying the bin-load list as state (nullif-guarded
    list_position — DuckDB returns 0, not NULL, on no-fit)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 1)
    sized = docs.select(
        "source",
        "doc_id",
        F.size(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).cast("long").alias("n_tokens"),
    )
    return PK.pack_bins_ffd(sized, budget=512)


def q_sim_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA POWER ITERATION (r15 — operators.similarity
    .pca_power_component): leading principal direction of the
    embedding matrix in 3 fixed Xᵀ(Xv) rounds from the deterministic
    v₀ = 1/√64 start — the whitening/reduction step before IVF-PQ.
    The covariance is never materialized; each round is a 1-row
    broadcast + a 64-row component shuffle. The oracle is a
    GENERATED unrolled replay (one CTE triple per iteration), the
    same pattern as the unigram-LM DP oracle."""
    return S.pca_power_component(
        _t(spark, sf_dir, "embeddings"), n_iter=3
    )


def q_web_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANCHOR / OUTLINK EXTRACTION (r15 — operators.cdx
    .extract_anchors): the web-graph edge builder — one row per
    ``<a href="…">`` with visible text (inner tags stripped,
    entities decoded) and, for absolute http(s) links, the SURT
    urlkey joining straight into the CDX index. Designed pages mix
    an absolute https link with query + nested ``<b>``, a RELATIVE
    link (urlkey NULL), and on odd docs an uppercase ``HREF`` with
    a non-default port. Pure JVM regexps + one posexplode."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 12)
    pages = docs.select(
        "doc_id",
        F.expr(
            """'<p>x</p><a href="https://www.site' || CAST(doc_id % 7 AS STRING)
               || '.example/p/' || CAST(doc_id AS STRING)
               || '?b=2">Go <b>now</b> ' || CAST(doc_id AS STRING)
               || '</a><a href="/rel/' || CAST(doc_id AS STRING)
               || '">About &amp; r' || CAST(doc_id AS STRING) || '</a>'
               || CASE WHEN doc_id % 2 = 1
                  THEN '<a HREF="http://site' || CAST(doc_id % 7 AS STRING)
                    || '.example:8080/Z' || CAST(doc_id AS STRING)
                    || '">UP</a>'
                  ELSE '' END"""
        ).alias("html"),
    )
    return CDX.extract_anchors(pages)


def q_text_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORD-BLOCKLIST GATE (r15 — operators.text.blocklist_filter):
    the UT1/badwords curation stage — tiered terms ('block' = any
    hit drops, 'flag' = drops past 100‰ of tokens) collapsed to ONE
    broadcast row of two arrays; the hot path is a codegen'd
    size(filter(words, array_contains)) per doc — no token-key join,
    no corpus explode, whole-token matching only (no substring
    false-positives). Terms chosen from the corpus vocabulary so
    both outcomes of both tiers exercise."""
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 7)
        .select("doc_id", "text")
    )
    bl = spark.createDataFrame(
        [("agg", "block"), ("batch", "flag"), ("join", "flag")],
        "term string, tier string",
    )
    return TX.blocklist_filter(docs, bl, max_flag_milli=100).drop("text")


def q_text_bleu_rouge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 + ROUGE-2 (r15 — operators.text.bleu_rouge_scores):
    the generation-eval metrics at corpus scale — candidate = the
    first ⌈¾⌉ words of each document plus an out-of-reference noise
    token (so precisions < 1 and the brevity penalty branch both
    exercise; 1-word docs take the bp=1 branch), reference = the
    full text. Clipped modified precision is exact integers via one
    nested fold; BLEU-2 = bp·√(p1·p2) (no exp/ln beyond bp). Zero
    UDFs, zero shuffles. The oracle replays the identical clipping
    algebra with DuckDB list ops."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 5)
    pairs = docs.select(
        "doc_id",
        F.expr(
            r"""array_join(slice(split(trim(lower(text)), '\\s+'), 1,
                 greatest(1, (3 * size(split(trim(lower(text)), '\\s+')))
                 div 4)), ' ') || ' zzz'"""
        ).alias("candidate"),
        F.lower(F.col("text")).alias("reference"),
    )
    return TX.bleu_rouge_scores(pairs).drop("candidate", "reference")


def q_epub_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB TEXT EXTRACTION (r15 — sources.zipdoc.synth_epub_assets →
    extract_epub_text): OCF container.xml → OPF rootfile → manifest
    id→href map → SPINE reading order (chapter files are stored in
    the zip REVERSED, so a walker trusting member order fails) →
    XHTML → drop-script/style + strip tags + entities + whitespace
    collapse. One row per spine document; the oracle rebuilds the
    exact chapter text closed-form."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 10)
        .select(F.col("doc_id").alias("asset_id"))
    )
    return ZD.extract_epub_text(ZD.synth_epub_assets(params))


def q_sim_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT MAXSIM TOP-K (r15 — operators.similarity.maxsim_topk):
    late-interaction rescoring — docs/queries as BAGS of token
    vectors, score = Σ_q max_d ⟨qv,dv⟩ as ONE nested codegen'd
    higher-order expression (no UDF/explode/per-token shuffle);
    queries broadcast. Token bags derive from the embeddings table
    by slicing each 64-dim vector into 8 8-dim token vectors —
    closed-form, so DuckDB rebuilds identical bags via list slicing
    and replays the same fold with list_sum/list_max/
    list_dot_product."""
    emb = _t(spark, sf_dir, "embeddings")
    bags = emb.select(
        "vec_id",
        F.expr(
            "transform(sequence(0, 7), j -> transform("
            "  slice(embedding, 1 + 8 * j, 8),"
            "  x -> CAST(x AS DOUBLE)))"
        ).alias("token_vecs"),
    )
    return S.maxsim_topk(
        bags, bags.where("vec_id < 6"), k=4, id_col="vec_id"
    )


def q_subtitles_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRT/VTT SUBTITLE PARSE (r15 — operators.subtitles
    .parse_subtitles): the transcript leg of a speech/video corpus.
    Even docs render as SubRip (counter line, ``,`` millisecond
    separator, full HH:MM:SS), odd docs as WebVTT (``WEBVTT`` header
    block + a NOTE block that must drop out, cue-identifier lines,
    ``.`` separator, SHORT ``MM:SS.mmm`` form exercising the
    optional-hour group). 2-4 cues per doc; odd cues carry a 2-line
    payload so the ``\\n`` re-join is proven. Parse is split →
    array-filter (valid cues only, so cue_idx is dense with NO
    window) → posexplode → one combined regexp: zero UDFs, zero
    shuffles. The oracle replays every cue closed-form including
    the exact payload text."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 6)
    body = F.expr(
        """array_join(transform(sequence(0, CAST(1 + doc_id % 3 AS INT)),
             i -> CASE WHEN doc_id % 2 = 0
               THEN CAST(i + 1 AS STRING) || '\n'
                 || '00:00:' || lpad(CAST(doc_id % 7 + 10 * i AS STRING), 2, '0')
                 || ',' || lpad(CAST(120 * i AS STRING), 3, '0')
                 || ' --> '
                 || '00:00:' || lpad(CAST(((doc_id % 7 + 10 * i) * 1000
                        + 120 * i + 1500 + 100 * i) div 1000 AS STRING), 2, '0')
                 || ',' || lpad(CAST((120 * i + 1500 + 100 * i) % 1000 AS STRING), 3, '0')
                 || '\n'
                 || CASE WHEN i % 2 = 0
                    THEN 'cue ' || CAST(i AS STRING) || ' d' || CAST(doc_id AS STRING)
                    ELSE 'cue ' || CAST(i AS STRING) || '\n' || 'more ' || CAST(doc_id AS STRING) END
               ELSE 'c' || CAST(i AS STRING) || '\n'
                 || '00:' || lpad(CAST(doc_id % 7 + 10 * i AS STRING), 2, '0')
                 || '.' || lpad(CAST(120 * i AS STRING), 3, '0')
                 || ' --> '
                 || '00:' || lpad(CAST(((doc_id % 7 + 10 * i) * 1000
                        + 120 * i + 1500 + 100 * i) div 1000 AS STRING), 2, '0')
                 || '.' || lpad(CAST((120 * i + 1500 + 100 * i) % 1000 AS STRING), 3, '0')
                 || '\n'
                 || CASE WHEN i % 2 = 0
                    THEN 'cue ' || CAST(i AS STRING) || ' d' || CAST(doc_id AS STRING)
                    ELSE 'cue ' || CAST(i AS STRING) || '\n' || 'more ' || CAST(doc_id AS STRING) END
               END), '\n\n')"""
    )
    cases = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0, body
        ).otherwise(
            F.concat(F.lit("WEBVTT\n\nNOTE synthetic\n\n"), body)
        ).alias("body"),
    )
    return SUB.parse_subtitles(cases)


def q_text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE SCRIPT DETECTION (r15 — operators.text.script_profile):
    the routing step of a multilingual corpus pipeline — per-document
    char counts over 9 explicit BMP script ranges, dominant script
    (argmax, alphabetical tie-break, 'und' when empty) and its
    integer-milli share of script chars. One codegen'd projection of
    regexp_replace length-deltas, zero UDFs, no shuffle. Designed
    texts cycle pure Latin/Cyrillic/Arabic/CJK/Greek and a mixed
    5-3-2 case (dominant latin at 500 milli); appended digits prove
    non-script chars dilute nothing. The oracle emits every count
    closed-form, so a range off-by-one or tie-break flip
    mismatches."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 4)
    cases = docs.select(
        "doc_id",
        F.expr(
            "CASE CAST(doc_id % 6 AS INT)"
            " WHEN 0 THEN 'hello world '"
            " WHEN 1 THEN 'привет "
            "мир '"
            " WHEN 2 THEN 'مرحبا "
            "بالعالم '"
            " WHEN 3 THEN '你好世界 '"
            " WHEN 4 THEN 'γειά σου "
            "κόσμε '"
            " ELSE 'hello мир 你好 '"
            " END || CAST(doc_id AS STRING)"
        ).alias("text"),
    )
    return TX.script_profile(cases).drop("text")


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SITEMAP.XML (r15 — operators.cdx.parse_sitemap): the
    sitemaps.org crawl-frontier source, and the XML leg of the
    format coverage (csv/json/parquet/text/warc/pdf/tar already
    land). Designed <urlset> documents (2-4 <url> entries; odd
    entries omit <priority>, lastmod a closed-form date) are built
    by a sequence/transform string expression, parsed back by
    Spark's built-in from_xml against a typed schema, exploded, and
    typed (date cast, rounded double). Zero UDFs; the oracle replays
    every entry as closed forms."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 2)
    sites = docs.select(
        F.col("doc_id").alias("site_id"),
        F.expr(
            """'<urlset>' || array_join(transform(
                 sequence(0, CAST(1 + doc_id % 3 AS INT)),
                 i -> '<url><loc>https://site'
                      || CAST(doc_id % 7 AS STRING) || '.example/p/'
                      || CAST(i AS STRING) || '</loc>'
                      || '<lastmod>2024-01-'
                      || lpad(CAST(1 + (doc_id + i) % 28 AS STRING),
                              2, '0')
                      || '</lastmod>'
                      || CASE WHEN i % 2 = 0
                         THEN '<priority>0.' || CAST(i % 10 AS STRING)
                              || '</priority>'
                         ELSE '' END
                      || '</url>'), '') || '</urlset>'"""
        ).alias("xml"),
    )
    return CDX.parse_sitemap(sites)


def q_multimodal_ogg_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGG OPUSTAGS (r15 — multimodal.synth_ogg_opus_tagged_assets →
    decode_ogg_tags): the third audio-metadata container (FLAC
    block, ID3v2, now Ogg) landing in the same column shape. Logical
    packets reassemble from page LACING VALUES (a >255-byte
    DESCRIPTION forces the 255-continuation path on every asset);
    packet 2 is the RFC 7845 OpusTags body, parsed by the shared
    VorbisComment reader (duplicate TITLE loses, lowercase
    ``language=`` canonicalizes); the 48 kHz granule duration
    composes in from the container walk. Closed forms of
    asset_id."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 1)
        .select(F.col("doc_id").alias("asset_id"))
    )
    return M.decode_ogg_tags(M.synth_ogg_opus_tagged_assets(params))


def q_multimodal_mp3_id3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 TAGS OVER MP3 (r15 — multimodal.synth_mp3_tagged_assets
    → decode_mp3_id3): the compressed-audio metadata twin of the
    FLAC lane. Even assets carry ID3v2.3 (plain big-endian frame
    sizes), odd v2.4 (SYNCSAFE frame sizes) — both real-world;
    TIT2 is latin-1, TPE1 is UTF-16-with-BOM (the two-byte path),
    TRCK's 'n/total' form yields the leading n, and the MPEG-1
    Layer III duration walk runs AFTER the tag skip so both halves
    compose. Every field a closed form of asset_id."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 12)
        .select(F.col("doc_id").alias("asset_id"))
    )
    return M.decode_mp3_id3(M.synth_mp3_tagged_assets(params))


def q_chat_template_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAT-TEMPLATE LOSS SPANS (r15 — operators.packing.
    render_chat_spans): SFT data prep. Designed conversations (2-4
    alternating user/assistant turns, contents closed forms of
    (conv, turn)) render to ``<|role|>content<|end|>`` segments; the
    lane emits each turn's character span in the concatenation via
    ONE window running-sum (single exchange on the conversation key)
    plus the assistant-only loss mask. The oracle replays the same
    spans with its own window sum — an off-by-one in either engine's
    frame semantics mismatches every subsequent turn."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 10)
    turns = docs.select(
        F.col("doc_id").alias("conv_id"),
        F.explode(
            F.sequence(
                F.lit(0), (F.lit(1) + F.col("doc_id") % 3).cast("int")
            )
        ).alias("turn"),
    )
    turns = turns.select(
        "conv_id",
        "turn",
        F.when(F.col("turn") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.concat(
            F.lit("msg "),
            F.col("conv_id").cast("string"),
            F.lit(" "),
            F.col("turn").cast("string"),
            F.expr("repeat('y', CAST((conv_id + turn) % 9 AS INT))"),
        ).alias("content"),
    )
    return PK.render_chat_spans(turns)


def q_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEBDATASET SHARDS (r15 — operators.webdataset.pack_webdataset
    → parse_webdataset): the multimodal training-data container.
    Each doc becomes a 3-member sample (.txt/.cls/.json, contents
    closed forms of doc_id) keyed by its zero-padded id; samples
    co-locate to shards by ``doc_id % 4`` through the grouped
    ``applyInPandas`` pack (the one legitimate shuffle), each shard
    serializes to a BYTE-DETERMINISTIC USTAR tar, and the parse walk
    re-expands members with the first-dot grouping rule. The oracle
    replays every member row, so a lost member, wrong key padding,
    or content corruption in the tar round-trip mismatches."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 5)
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % 4).alias("shard_id"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("key"),
    )
    members = base.select(
        "shard_id",
        "key",
        F.explode(
            F.array(
                F.struct(
                    F.lit("txt").alias("ext"),
                    F.encode(
                        F.concat(
                            F.lit("doc "),
                            F.col("doc_id").cast("string"),
                            F.lit(" "),
                            F.expr("repeat('x', CAST(doc_id % 20 AS INT))"),
                        ),
                        "utf-8",
                    ).alias("data"),
                ),
                F.struct(
                    F.lit("cls").alias("ext"),
                    F.encode(
                        (F.col("doc_id") % 10).cast("string"), "utf-8"
                    ).alias("data"),
                ),
                F.struct(
                    F.lit("json").alias("ext"),
                    F.encode(
                        F.concat(
                            F.lit('{"id":'),
                            F.col("doc_id").cast("string"),
                            F.lit("}"),
                        ),
                        "utf-8",
                    ).alias("data"),
                ),
            )
        ).alias("m"),
    ).select(
        "shard_id", "key",
        F.col("m.ext").alias("ext"), F.col("m.data").alias("data"),
    )
    return WDS.parse_webdataset(WDS.pack_webdataset(members))


def q_text_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAIN-CONTENT EXTRACTION (r15 — operators.text.
    main_content_blocks): link-density block scoring, the jusText/
    trafilatura step above strip_html. Designed pages carry four
    blocks — a link-only nav rail (density 1000‰ → dropped), a long
    link-free paragraph (kept), a 2-char stub (dropped by min length
    despite zero links), and a long paragraph with ONE inline anchor
    (link_chars exactly the anchor text+join space; density < 333‰ →
    kept) — so both gate dimensions discriminate. All JVM regexp
    expressions in one codegen stage; the oracle rebuilds each
    block's visible text and counters as closed forms."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 0)
    html = docs.select(
        "doc_id",
        F.concat(
            F.lit(
                '<div><a href="/">Home</a> '
                '<a href="/x">More links here</a></div><p>'
            ),
            F.expr("rtrim(repeat('w ', 5 + CAST(doc_id % 7 AS INT)))"),
            F.lit(" end</p><p>hi</p><div>"),
            F.expr("repeat('t ', 14 + CAST(doc_id % 5 AS INT))"),
            F.lit('<a href="#">click here</a> tail</div>'),
        ).alias("html"),
    )
    return TX.main_content_blocks(html)


def q_multimodal_flac_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC VORBIS_COMMENT TAGS (r15 — multimodal.
    synth_flac_tagged_assets → decode_audio_tags): route-by-metadata
    for an audio corpus — walk the metadata chain (STREAMINFO →
    VORBIS_COMMENT → last-flagged PADDING), parse the xiph comment
    block (LITTLE-endian lengths inside the BIG-endian block framing
    — the classic interop trap), canonicalize keys upper-case with
    first-occurrence-wins (a duplicate TITLE and a lowercase
    ``language=`` key are planted), and join the STREAMINFO duration
    into the same row. Every field a closed form of asset_id."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 8)
        .select(F.col("doc_id").alias("asset_id"))
    )
    return M.decode_audio_tags(M.synth_flac_tagged_assets(params))


def q_cdx_surt_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT + CDX INDEX (r15 — operators.cdx.surt_key →
    parse_cdx_lines): the CommonCrawl URL-index pair. Designed URLs
    cover every canonicalization trap — mixed case, a leading www
    label, default ports 80/443 (dropped) vs :8080 (kept on the
    reversed host), userinfo, out-of-order query params (byte-sorted),
    fragments (dropped), empty path → '/' — and the computed SURT
    urlkey is embedded into a synthesized ``urlkey ts {json}`` CDXJ
    line which parse_cdx_lines then splits (bounded 3-way) and
    from_json-flattens back to typed columns. All JVM expressions,
    zero UDFs; the oracle replays urlkey and every JSON field as
    closed forms, so one wrong canonicalization byte mismatches."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 7)
    base = docs.select(
        "doc_id",
        F.expr(
            """CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN 'https://WWW.Site' || CAST(doc_id % 9 AS STRING)
                           || '.Example.com/A/b'
               WHEN 1 THEN 'http://site' || CAST(doc_id % 9 AS STRING)
                           || '.example.com:80/x?b=2&a=1'
               WHEN 2 THEN 'https://site' || CAST(doc_id % 9 AS STRING)
                           || '.example.com:443/'
               WHEN 3 THEN 'https://user@site' || CAST(doc_id % 9 AS STRING)
                           || '.example.com/Path/Q?z=9&m=3&a=0'
               WHEN 4 THEN 'http://site' || CAST(doc_id % 9 AS STRING)
                           || '.example.com:8080/p'
               ELSE 'https://site' || CAST(doc_id % 9 AS STRING)
                    || '.example.com/a#frag' END"""
        ).alias("url"),
        F.expr(
            "CASE WHEN doc_id % 5 = 0 THEN '404' ELSE '200' END"
        ).alias("status_s"),
    )
    line = base.select(
        F.concat(
            CDX.surt_key(F.col("url")),
            F.lit(" "),
            (F.lit(20240101000000) + F.col("doc_id")).cast("string"),
            F.lit(" "),
            F.lit('{"url":"'), F.col("url"),
            F.lit('","mime":"text/html","status":"'), F.col("status_s"),
            F.lit('","digest":"sha1:'), F.col("doc_id").cast("string"),
            F.lit('","length":"'),
            (F.lit(100) + F.col("doc_id") % 900).cast("string"),
            F.lit('","offset":"'),
            (F.col("doc_id") * 1000).cast("string"),
            F.lit('","filename":"crawl-'),
            (F.col("doc_id") % 10).cast("string"),
            F.lit('.warc.gz"}'),
        ).alias("line")
    )
    return CDX.parse_cdx_lines(line)


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBOTS.TXT GATE (r15 — operators.robots.parse_robots_txt →
    robots_filter): RFC 9309 frontier filtering before fetch. Raw
    per-domain robots bodies (comments, User-agent/Crawl-delay lines
    to ignore, wildcard + $-anchored rules) parse to a rule table
    that BROADCASTS into a LIKE-pattern join (rules map to LIKE, not
    regex — byte-identical semantics in codegen and in the oracle's
    ``LIKE … ESCAPE``), then longest-match precedence per §2.2.2
    (longest rule wins, Allow wins ties, default allow) via one
    row_number window. '/private/ok' proves the
    Allow-overrides-shorter-Disallow case; odd domains carry an
    inner-wildcard rule."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 3)
    urls = docs.select(
        F.col("doc_id").alias("url_id"),
        F.concat(
            F.lit("site"), (F.col("doc_id") % 4).cast("string"),
            F.lit(".example"),
        ).alias("domain"),
        F.expr(
            """CASE CAST(doc_id % 5 AS INT)
               WHEN 0 THEN '/private/x' || CAST(doc_id % 7 AS STRING)
               WHEN 1 THEN '/p/' || CAST(doc_id % 20 AS STRING)
               WHEN 2 THEN '/private/ok'
               WHEN 3 THEN '/static/img' || CAST(doc_id % 3 AS STRING)
                           || '.png'
               ELSE '/p' END"""
        ).alias("path"),
    )
    doms = spark.range(4).select(
        F.concat(
            F.lit("site"), F.col("id").cast("string"), F.lit(".example")
        ).alias("domain"),
        F.concat(
            F.lit(
                "# synth robots\nUser-agent: *\n"
                "Disallow: /private*  # keep out\n"
                "Allow: /private/ok$\nDisallow: /p/1*\n"
            ),
            F.when(
                F.col("id") % 2 == 1, F.lit("Disallow: *img1*\n")
            ).otherwise(F.lit("")),
            F.lit("Crawl-delay: 10\n"),
        ).alias("robots_txt"),
    )
    return RB.robots_filter(urls, RB.parse_robots_txt(doms))


def q_pdf_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF TEXT EXTRACTION (r15 — operators.pdf.synth_pdf_assets →
    extract_pdf_text): the document-to-text step of an LLM corpus,
    from first principles per ISO 32000-1 — startxref tail scan →
    classic xref table → trailer /Root → page-tree walk → per-page
    content streams (FlateDecode on even assets, plain on odd) →
    §9.4 text-operator replay (Tj with \\(-escapes and octal, TJ
    mixing literal + ≤-100 kerning gap + HEX string, Td newlines).
    One-to-many Arrow expansion (asset → pages); the oracle rebuilds
    the exact page text by concat closed forms, so one wrong escape
    byte or a missed kerning gap mismatches."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 6)
        .select(F.col("doc_id").alias("asset_id"))
    )
    return PDF.extract_pdf_text(PDF.synth_pdf_assets(params))


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC INGESTION (r15 — sources.warc.synth_warc_assets →
    parse_warc_records): the CommonCrawl record walk. Each asset is
    a WARC file (warcinfo + 2..4 HTTP response records); ODD assets
    use the production ``.warc.gz`` layout — concatenated PER-RECORD
    gzip members (RFC 1952 §2.2), which single-shot decompression
    cannot read — even assets plain WARC, and both must parse to the
    identical record surface (type, target URI, HTTP status,
    Content-Type, body octet length). One-to-many Arrow expansion;
    payload bytes never shuffle. Every field is a closed form of
    asset_id the oracle replays."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 4)
        .select(F.col("doc_id").alias("asset_id"))
    )
    return WC.parse_warc_records(WC.synth_warc_assets(params)).drop(
        "body"
    )


def q_warc_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC → TEXT (r15): the first two stages of every web-crawl
    training pipeline composed — parse_warc_records (gzip members +
    record framing + HTTP split) feeding the PROVEN strip_html JVM
    stage over kept responses (status 200 only), with per-page word
    counts. The oracle rebuilds the cleaned text itself (concat +
    repeat closed forms), so a parser that mangles one body byte or
    a strip that leaves a tag mismatches."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 4)
        .select(F.col("doc_id").alias("asset_id"))
    )
    recs = WC.parse_warc_records(WC.synth_warc_assets(params))
    resp = recs.where(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    )
    clean = TX.strip_html(
        resp.select(
            "asset_id", "record_idx", "target_uri",
            F.col("body").alias("html"),
        )
    )
    return clean.select(
        "asset_id",
        "record_idx",
        "target_uri",
        "clean_text",
        F.size(F.split("clean_text", " ")).cast("long").alias("n_words"),
    )


def q_pipeline_warc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-ROOTED END-TO-END CURATION (r16): the full
    bytes-to-training-shards path of a CommonCrawl-style pipeline
    as ONE lane, every stage a proven operator — synth_warc_assets
    (real WARC files, per-record gzip members on odd assets) →
    parse_warc_records (payload bytes confined to the FIRST
    mapInPandas stage; only parsed fields shuffle) → keep HTTP-200
    responses → strip_html (JVM) → designed filler padding so the
    gopher word-count gate trips on some pages and not others →
    gopher_quality_gates (integer cross-product keep) →
    MinHash-LSH near-dup candidates (num_perm 16, bands 4, portable
    hash) with the greedy keep-first rule: a page drops iff it is
    the HIGHER id of a candidate pair with signature agreement ≥ 8
    of 16 (est Jaccard ≥ 0.5; the transitive-closure variant is the
    separate ``dedup_clusters`` lane — this one stays a single
    acyclic plan) → FFD bin packing of survivors into 256-token
    shards per site. The oracle replays EVERY stage: page
    closed-forms, the gate inequality, the full minhash signature /
    banding / hot-cap / agreement pipeline, and the sequential FFD
    greedy as a recursive CTE."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 4)
        .select(F.col("doc_id").alias("asset_id"))
    )
    recs = WC.parse_warc_records(WC.synth_warc_assets(params))
    resp = recs.where(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    )
    clean = TX.strip_html(
        resp.select(
            "asset_id", "record_idx", F.col("body").alias("html")
        )
    )
    pages = clean.select(
        (F.col("asset_id") * 8 + F.col("record_idx"))
        .cast("long")
        .alias("page_id"),
        F.concat(
            F.lit("site"), (F.col("asset_id") % 7).cast("string")
        ).alias("site"),
        F.concat(
            F.col("clean_text"),
            F.lit(" "),
            F.expr(
                "repeat('filler ', CAST(42 + 3 * "
                "((asset_id + record_idx) % 4) AS INT))"
            ),
        ).alias("text"),
    )
    # r16 (guide §2.4): the gates are a narrow map over the parsed
    # pages — applied INLINE via keep_cols instead of join-composed
    # back on page_id (the join re-ran the whole WARC-parse subtree
    # for the gates branch AND paid two exchanges). kept then feeds
    # two consumers (the minhash signature chain and the anti-join
    # spine), so a lazy checkpoint stops the parse running once per
    # consumer; identical rows, oracle-proven.
    kept = (
        TX.gopher_quality_gates(
            pages, id_col="page_id", keep_cols=("site", "text")
        )
        .where(F.col("keep"))
        .select("page_id", "site", "text", "n_words")
        .transform(GPF.ckpt_lazy)
    )
    pairs = D.minhash_lsh_pairs(
        kept.select(F.col("page_id").alias("doc_id"), "text"),
        num_perm=16,
        bands=4,
        hash_fn=portable_hash32,
    )
    drops = (
        pairs.where(F.col("est_jaccard") >= 0.5)
        .select(F.col("id_b").alias("page_id"))
        .distinct()
    )
    surv = kept.join(drops, "page_id", "left_anti")
    sized = surv.select(
        "site", "page_id", F.col("n_words").alias("n_tokens")
    )
    return PK.pack_bins_ffd(
        sized,
        budget=256,
        group_col="site",
        size_col="n_tokens",
        id_col="page_id",
    )


def q_multimodal_resize_box(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT BOX RESIZE (r15 — multimodal.synth_pgm_linear_assets →
    decode_image_resize_stats): the production resize-before-vision
    step as REAL pixel work over arbitrary non-divisible dims —
    48×40 and 56×24 gradients land on 32×32 (down- and up-scale on
    one axis) through exact integer area-average weights (each
    output pixel is the half-up-rounded overlap-weighted mean, two
    separable integer matmuls, never a Python pixel loop). Because
    the synth gradient is affine, the 2-D average separates, so the
    oracle replays the ENTIRE resize with two 1-D first-moment sums
    per axis; the reported Σv and Σ v·(1+x+2y) checksum make
    dropped/swapped rows and wrong rounding mismatch."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 9)
        .select(F.col("doc_id").alias("asset_id"))
    )
    return M.decode_image_resize_stats(
        M.synth_pgm_linear_assets(params), 32, 32
    )


def q_multimodal_audio_fp_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AUDIO FINGERPRINT NEAR-DUP (r15 — multimodal.
    synth_flac_fp_assets → decode_audio_fingerprint → dedup.
    hash_band_pairs): the audio twin of the pHash lane — dedupe
    re-encoded/re-leveled audio before transcription. Each FLAC
    stream (64 CRC-verified CONSTANT frames) carries a designed
    63-bit energy-delta signature (gain-invariant by construction;
    groups of 4 assets share bands 0..2 and differ by ≤5 top-band
    bits); decode runs the full FLAC sample path, the pair stage is
    the banded self-join, never all-pairs, then exact
    bit_count(xor) ≤ 6."""
    # dense index: selected doc_ids are 13k+12, so doc_id // 13 = k
    # is consecutive — the //4 group structure of the signature
    # needs consecutive ids to form its near-dup quads
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 12)
        .select(F.expr("doc_id div 13").cast("long").alias("asset_id"))
    )
    fps = M.decode_audio_fingerprint(M.synth_flac_fp_assets(params))
    return D.hash_band_pairs(
        fps, hash_col="afp", id_col="asset_id",
        bands=4, bits=64, max_hamming=6,
    )


def q_multimodal_exif_gps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXIF RATIONAL SURFACE (r15 — multimodal.
    synth_jpeg_exif_gps_assets → decode_exif_gps_stats; closes the
    r14 scope note that RATIONAL tags were skipped): GPS
    latitude/longitude (deg/min/sec RATIONAL triples + N/S/E/W
    refs, both byte orders) normalized to signed milli-arcseconds,
    ExposureTime to exact microseconds, FNumber to hundredths —
    integer floor-div math end to end, closed forms of asset_id."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 1)
        .select(F.col("doc_id").alias("asset_id"))
    )
    return M.decode_exif_gps_stats(
        M.synth_jpeg_exif_gps_assets(params)
    )


def q_multimodal_phash_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERCEPTUAL-HASH IMAGE NEAR-DUP (r15 — multimodal.
    synth_pgm_phash_assets → decode_image_phash → dedup.
    hash_band_pairs): the bridge of the multimodal and dedup
    families — dedupe images BEFORE captioning. Each 32x32 grayscale
    PGM carries a designed 63-bit DCT-sign signature (groups of 4
    assets share bands 0..2 and differ by ≤5 top-band bits); the
    decode does the real 2-D DCT-II (computed cosine basis) and the
    pair stage is the SimHash-shaped BANDED self-join — candidates
    share an exact 16-bit band, never all-pairs — then exact
    bit_count(xor) ≤ 6. Oracle recomputes the designed signatures
    and replays band-match + hamming in SQL."""
    # dense index (r15 fix): selected doc_ids are 13k+11, so
    # doc_id // 13 = k is consecutive — without it the //4 groups
    # never form and the only pairs are accidental band collisions
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 11)
        .select(F.expr("doc_id div 13").cast("long").alias("asset_id"))
    )
    hashes = M.decode_image_phash(M.synth_pgm_phash_assets(params))
    return D.hash_band_pairs(
        hashes, hash_col="phash", id_col="asset_id",
        bands=4, bits=64, max_hamming=6,
    )


def q_multimodal_webp_alpha(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lossy WebP WITH ALPHA (r14 — multimodal.
    synth_webp_alpha_assets → decode_image_alpha_stats): VP8X +
    ALPH + VP8. The alpha plane cycles all four filter methods
    (none/horizontal/vertical/gradient, asset_id % 4) and both
    compressions (raw residuals / HEADERLESS VP8L stream,
    asset_id % 2); the color plane is the lossy lane's flat-MB VP8
    key frame. RGBA sums — alpha from the closed-form plane, RGB
    from the BT.601 closed form."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 10)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(18) + (F.col("doc_id") % 6) * 7)
            .cast("long")
            .alias("width"),
            (F.lit(10) + (F.col("doc_id") % 5) * 9)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_alpha_stats(
        M.synth_webp_alpha_assets(params)
    )


def q_multimodal_webp_anim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANIMATED WebP decode (r14 — multimodal.synth_webp_anim_assets
    → _webp_anim_pixel_sums): VP8X canvas + ANIM + 2..5 ANMF frames
    (full-canvas base + even-y strip frames, no-blend, dispose
    NONE), composited in order; the final canvas pixel at row y is
    frame min(y//2+1, K−1) where covered else frame 0 — a closed
    form the oracle recomputes. Blend math and background disposal
    are pinned by hand-authored pytests."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 4)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(8) + (F.col("doc_id") % 7) * 5)
            .cast("long")
            .alias("width"),
            (F.lit(12) + (F.col("doc_id") % 5) * 6)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_anim_assets(params)
    )


def q_multimodal_webp_anim_lossy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANIMATED WebP WITH LOSSY FRAMES + PER-FRAME ALPHA (r15 —
    multimodal.synth_webp_anim_lossy_assets → the shared ANMF
    compositor): frame 0 is a full-canvas VP8 key frame (RFC 6386
    decode, flat-MB closed form), frame 1 a sub-rect VP8 frame with
    an ALPH alpha plane (all filter methods / both compressions by
    asset) alpha-blended over the opaque base — OVER collapses to
    ``(src·a + dst·(255−a))//255`` exactly. The dominant real-corpus
    animation shape (lossy frames, lossless alpha). Oracle
    recomputes BT.601 of both MB patterns × the alpha closed form
    per canvas pixel."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 3)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(32) + (F.col("doc_id") % 3) * 16)
            .cast("long")
            .alias("width"),
            (F.lit(32) + (F.col("doc_id") % 2) * 16)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_anim_lossy_assets(params)
    )


def q_multimodal_vp8l_dist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VP8L 2-D NEIGHBOR DISTANCE MAP decode (r14 — multimodal.
    synth_webp_vp8l_dist_assets): the 120-entry map DERIVED (sorted
    near-neighbor window, multimodal._vp8l_distance_map — the spec
    pin is tests/test_operators.py::
    test_vp8l_distance_map_derivation) rather than memorized; each
    asset's stream is literals + per-row backward references whose
    2-D codes rotate through both axes and negative dx over a
    period-4 image. This completes VP8L LZ77 — distances both below
    and above 120 decode."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 9)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(12) + (F.col("doc_id") % 7) * 4)
            .cast("long")
            .alias("width"),
            (F.lit(9) + (F.col("doc_id") % 5) * 8)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_vp8l_dist_assets(params)
    )


def q_multimodal_vp8_lf_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VP8 LOOP-FILTER DELTA decode (r13 — multimodal.
    synth_webp_vp8_lfdelta_assets → operators/vp8.py §9.4): the
    ref-frame and mode delta header with ref[INTRA] = −20 and
    mode[B_PRED] = +20 over alternating DC/B_PRED stripe rows, so
    DC rows land effective level 0 (edges untouched) and B_PRED
    rows level 20 (the normal filter's closed-form two-row taps) —
    both delta kinds observable per boundary parity. Closes the
    last VP8 header boundary."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 2)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(16) + (F.col("doc_id") % 6) * 8)
            .cast("long")
            .alias("width"),
            (F.lit(24) + (F.col("doc_id") % 5) * 16)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_webp_vp8_lfdelta_assets(params)
    )


def q_multimodal_jpeg_420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsampled-chroma (4:2:0) baseline JPEG pixel decode — the
    dominant web-JPEG profile: MCU = four Y blocks + one Cb + one Cr,
    generic Hi×Vi interleave walk, nearest-neighbor chroma upsample,
    the same fixed-point integer YCbCr→RGB. Chroma is constant per
    16×16 macroblock in the synth (so upsampling is lossless) while
    luma keeps the 8-px block gradient — the oracle recomputes every
    channel from the two block rules. The JPEG boundary is now
    progressive scans only."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 2)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(17) + (F.col("doc_id") % 5) * 9)
            .cast("long")
            .alias("width"),
            (F.lit(12) + (F.col("doc_id") % 4) * 11)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_jpeg_color_assets(params, subsample=True)
    )


def q_multimodal_tiff_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncompressed-TIFF pixel decode (multimodal.
    synth_tiff_gradient_assets → decode_image_pixel_stats): real
    classic-TIFF payloads — multi-strip rasters (RowsPerStrip=5, so
    StripOffsets/StripByteCounts walking is load-bearing), byte
    order alternating per asset (II and MM both exercised), canonical
    tag types — decoded to exact per-channel integer sums of the
    repo-wide closed-form gradient. Completes pixel access for every
    non-entropy-coded image family the engine parses (BMP/PNG/GIF/
    PPM/TIFF + baseline-grayscale JPEG)."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 6)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(11) + (F.col("doc_id") % 9) * 3)
            .cast("long")
            .alias("width"),
            (F.lit(8) + (F.col("doc_id") % 5) * 6)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(M.synth_tiff_gradient_assets(params))


def q_multimodal_tiff_packbits(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PackBits-COMPRESSED TIFF pixel decode (compression 32773 —
    the fax/scan-corpus RLE profile): per-strip run/literal packets
    (repeat headers 257−n, −128 no-ops) decompressed before the same
    multi-strip walk, both byte orders. Compression is value-neutral,
    so the oracle is the same closed-form gradient."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 12)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(9) + (F.col("doc_id") % 7) * 6)
            .cast("long")
            .alias("width"),
            (F.lit(7) + (F.col("doc_id") % 6) * 7)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_tiff_gradient_assets(params, compression=32773)
    )


def q_multimodal_tiff_lzw(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LZW-COMPRESSED TIFF pixel decode WITH the horizontal
    predictor (compression 5 + predictor 2 — the pairing real TIFF
    writers emit): MSB-first codes, 9→12-bit widths with the TIFF
    early-change rule (lag-adjusted on the decode side), 4093-entry
    table resets, per-strip streams; predictor-2 rows un-difference
    per channel after decompression. Value-neutral by construction —
    same closed-form gradient oracle."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 8)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(12) + (F.col("doc_id") % 5) * 9)
            .cast("long")
            .alias("width"),
            (F.lit(8) + (F.col("doc_id") % 7) * 5)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_tiff_gradient_assets(
            params, compression=5, predictor=2
        )
    )


def q_multimodal_tiff_deflate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deflate-COMPRESSED TIFF pixel decode WITH the horizontal
    predictor (compression 8 — the Adobe zlib profile modern writers
    emit, + predictor 2): per-strip zlib streams inflated before the
    multi-strip walk, predictor-2 rows un-differenced per channel,
    both byte orders. Value-neutral by construction — same
    closed-form gradient oracle."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 4)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(11) + (F.col("doc_id") % 6) * 8)
            .cast("long")
            .alias("width"),
            (F.lit(10) + (F.col("doc_id") % 5) * 6)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(
        M.synth_tiff_gradient_assets(
            params, compression=8, predictor=2
        )
    )


def q_multimodal_ppm_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Netpbm P6 pixel decode (multimodal.synth_ppm_gradient_assets →
    decode_image_pixel_stats): binary PPM payloads — comment-bearing
    headers, raw RGB raster — carrying the same closed-form gradient
    as the BMP/PNG lanes, decoded to exact per-channel integer sums.
    With BMP/PNG/GIF this completes pixel access for every
    non-entropy-coded image family the engine parses."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 5)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(14) + (F.col("doc_id") % 8) * 5)
            .cast("long")
            .alias("width"),
            (F.lit(9) + (F.col("doc_id") % 6) * 4)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(M.synth_ppm_gradient_assets(params))


def q_multimodal_gif_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LZW pixel decode, stdlib only (multimodal.
    synth_gif_gradient_assets → decode_image_pixel_stats): real
    spec-complete GIF89a payloads — 256-entry global color table,
    genuinely LZW-compressed image data (variable-width codes,
    dictionary growth, the KwKwK case), ≤255-byte sub-blocks —
    decoded back pixel-for-pixel (sub-block join → LZW inflate →
    palette map → exact per-channel integer sums). Pixel (x, y)
    holds palette index (x+2y)%256 with palette i=(i, 2i%256,
    3i%256), so the oracle recomputes every channel sum from
    (width, height) alone. With PNG this closes the lossless-image
    half of the codec boundary; JPEG/WebP entropy codecs remain."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 4)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(20) + (F.col("doc_id") % 6) * 9)
            .cast("long")
            .alias("width"),
            (F.lit(12) + (F.col("doc_id") % 5) * 7)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(M.synth_gif_gradient_assets(params))


def q_multimodal_jpeg_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTROPY-CODED pixel decode, stdlib+numpy only (multimodal.
    synth_jpeg_gradient_assets → decode_image_pixel_stats): real
    baseline JPEGs — Annex K Huffman tables, FDCT → quantize →
    zigzag → DC-predicted entropy scan with byte stuffing — decoded
    back by a genuine scan decoder (Huffman walk, EXTEND, dequant,
    IDCT, block-padding crop). The luminance is constant per 8x8
    block (``(37·bx + 71·by) % 256``), which makes the lossy DCT
    round-trip EXACT (constant blocks carry only a DC coefficient,
    preserved bit-for-bit by the all-ones quant table), so the
    DuckDB oracle recomputes every pixel from (width, height) alone
    while the scan still exercises wide DC categories, sign
    changes, EOB runs and 0xFF stuffing. Widths/heights are chosen
    off the 8-grid so edge-replicated partial blocks are
    load-bearing. Shrinks the codec boundary again: color/
    progressive JPEG and WebP/VP8 remain behind it."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 3)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(13) + (F.col("doc_id") % 5) * 7)
            .cast("long")
            .alias("width"),
            (F.lit(11) + (F.col("doc_id") % 4) * 5)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_pixel_stats(M.synth_jpeg_gradient_assets(params))


def q_multimodal_decode_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real AVI round-trip through the stdlib container parser:
    per-document video parameters derived JVM-side (oracle-
    reproducible), encoded into genuine RIFF/AVI payloads with a
    marker-correct avih MainAVIHeader inside Arrow mapInPandas, then
    decoded back by ``decode_video`` — the video leg of the
    multimodal metadata lanes (audio=WAV, image=JPEG/PNG/BMP/GIF/PPM,
    video=AVI; pixel/sample decode stays the documented ffmpeg
    boundary). Both maps narrow; the payload never shuffles."""
    fps = (F.lit(12) + (F.col("doc_id") % 4) * 6).cast("long")
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 6 == 0)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(160) + (F.col("doc_id") % 8) * 16)
            .cast("long")
            .alias("width"),
            (F.lit(120) + (F.col("doc_id") % 7) * 16)
            .cast("long")
            .alias("height"),
            (F.length("text") % 240 + 1).cast("long").alias("n_frames"),
            fps.alias("fps"),
        )
    )
    return M.decode_video_features(M.synth_avi_assets(params))


def q_multimodal_decode_mp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real MP4 (ISO-BMFF) round-trip through the stdlib box parser:
    per-document video parameters derived JVM-side (oracle-
    reproducible), encoded into genuine ftyp+moov payloads (spec-
    length mvhd, 16.16 fixed-point tkhd dimensions, single-run stts
    sample table) inside Arrow mapInPandas, then decoded back by
    ``decode_video``'s mvhd/tkhd/stts walk — the MP4 leg next to the
    AVI lane; codec-level frame decode stays the documented ffmpeg
    boundary. Both maps narrow; the payload never shuffles."""
    fps = (F.lit(10) + (F.col("doc_id") % 5) * 5).cast("long")
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(128) + (F.col("doc_id") % 16) * 8)
            .cast("long")
            .alias("width"),
            (F.lit(96) + (F.col("doc_id") % 9) * 16)
            .cast("long")
            .alias("height"),
            (F.length("text") % 360 + 1).cast("long").alias("n_frames"),
            fps.alias("fps"),
        )
    )
    return M.decode_video_features(M.synth_mp4_assets(params))


def q_multimodal_decode_flac(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Real FLAC round-trip through the stdlib STREAMINFO parser:
    per-document audio parameters derived JVM-side, packed into
    genuine fLaC containers inside Arrow mapInPandas, decoded back by
    ``decode_audio``'s metadata-block walk — the lossless-audio leg;
    sample decode stays the documented codec boundary."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 6 == 2)
        .select(
            F.col("doc_id").alias("asset_id"),
            F.element_at(
                F.array(F.lit(44100), F.lit(48000), F.lit(96000)),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).cast("long").alias("sample_rate"),
            (F.col("doc_id") % 2 + 1).cast("long").alias("n_channels"),
            (F.length("text") * 37 % 200000 + 1).cast("long")
            .alias("n_frames"),
        )
    )
    return M.decode_audio_features(M.synth_flac_assets(params))


def q_multimodal_decode_ogg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Real Ogg Opus round-trip through the stdlib page walker:
    OpusHead id packet + EOS granule encode JVM-derived parameters,
    ``decode_audio`` recovers channels / input rate / total samples /
    floor-ms duration on the 48 kHz Opus granule clock — the
    lossy-audio leg; packet (DSP) decode stays the codec boundary."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 6 == 3)
        .select(
            F.col("doc_id").alias("asset_id"),
            F.element_at(
                F.array(F.lit(8000), F.lit(16000), F.lit(48000)),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).cast("long").alias("sample_rate"),
            (F.col("doc_id") % 2 + 1).cast("long").alias("n_channels"),
            (F.length("text") * 53 % 480000 + 1).cast("long")
            .alias("n_frames"),
        )
    )
    return M.decode_audio_features(M.synth_ogg_opus_assets(params))


_PAGERANK_ITERS = 5
_PAGERANK_SCALE = 10**12


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (operators/graph.pagerank_fixedpoint) over
    the symmetrized customer↔supplier trade graph — the Pregel-shaped
    workload as 5 supersteps of keyed join + aggregate, in EXACT
    integer fixed-point so every score is engine- and shuffle-order-
    reproducible (the oracle unrolls the same 5 supersteps as
    DuckDB CTEs)."""
    from geniepool_etl_spark.operators.graph import pagerank_fixedpoint

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e0 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") % 40).alias("src"),
            (F.col("l_suppkey") % 60 + 1000).alias("dst"),
        )
        .distinct()
    )
    edges = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    return pagerank_fixedpoint(
        edges, iterations=_PAGERANK_ITERS, scale=_PAGERANK_SCALE
    )


def _pagerank_oracle(iters: int, scale: int) -> str:
    parts = [f"""
        WITH e0 AS (
          SELECT DISTINCT o.o_custkey % 40 AS src,
                 l.l_suppkey % 60 + 1000 AS dst
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        edges AS (
          SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
        ),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        ed AS (
          SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)
        ),
        nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ),
        t AS (SELECT count(*) AS n FROM nodes),
        s0 AS (SELECT node, {scale} // n AS score FROM nodes, t)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
        c{k} AS (
          SELECT ed.dst AS node,
                 CAST(SUM((p.score * 85) // (100 * ed.deg)) AS BIGINT)
                   AS c
          FROM ed JOIN s{k - 1} p ON p.node = ed.src
          GROUP BY ed.dst
        ),
        s{k} AS (
          SELECT n.node,
                 (15 * {scale}) // (100 * t.n)
                   + COALESCE(c.c, 0) AS score
          FROM nodes n LEFT JOIN c{k} c USING (node), t
        )""")
    parts.append(f"\n        SELECT node, score FROM s{iters}")
    return "".join(parts)


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph triangle census: project the bipartite
    order→part incidence into an undirected part-family co-occurrence
    graph (operators/graph.cooccurrence_edges — self-join keyed on the
    order, pair fan-out bounded by order size), then count triangles
    per node with the degree-ordered orientation algorithm
    (graph.triangle_counts) so the wedge join never blows up on hub
    nodes. All-integer output; the oracle replays the identical
    projection + orientation in SQL. Fixture note: the %2000 family
    fold is pinned so the static oracle matches at every sf; it makes
    graph DENSITY grow with sf (saturating toward K2000 by sf0.1) —
    a fixture artifact, not an operator property; real item spaces
    grow with the corpus."""
    from geniepool_etl_spark.operators.graph import (
        cooccurrence_edges,
        triangle_counts,
    )

    li = _t(spark, sf_dir, "lineitem")
    inc = li.select(
        "l_orderkey", (F.col("l_partkey") % 2000).alias("item")
    )
    return triangle_counts(cooccurrence_edges(inc, "l_orderkey", "item"))


_GRAPH_TRIANGLES_ORACLE = """
    WITH inc AS (
      SELECT DISTINCT l_orderkey AS g, l_partkey % 2000 AS item
      FROM lineitem
    ),
    und AS (
      SELECT DISTINCT l.item AS a, r.item AS b
      FROM inc l JOIN inc r ON l.g = r.g AND l.item < r.item
    ),
    deg AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg
                    OR (da.deg = db.deg AND a < b)
                  THEN a ELSE b END AS lo,
             CASE WHEN da.deg < db.deg
                    OR (da.deg = db.deg AND a < b)
                  THEN b ELSE a END AS hi
      FROM und
      JOIN deg da ON da.node = und.a
      JOIN deg db ON db.node = und.b
    ),
    tri AS (
      SELECT w.x, w.y, w.z
      FROM (
        SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
        FROM o e1 JOIN o e2 ON e1.hi = e2.lo
      ) w
      JOIN o ON o.lo = w.x AND o.hi = w.z
    )
    SELECT node, count(*) AS triangles FROM (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ) GROUP BY node
"""


def q_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-purchase projection (operators/
    graph.common_neighbor_links): top-20 non-edges by common-neighbor
    count with neighborhood Jaccard — wedge join keyed on the shared
    neighbor, existing edges removed by LEFT ANTI, degrees from the
    adjacency aggregate. Same graph fixture as graph_triangles."""
    from geniepool_etl_spark.operators.graph import (
        common_neighbor_links,
        cooccurrence_edges,
    )

    li = _t(spark, sf_dir, "lineitem")
    inc = li.select(
        "l_orderkey", (F.col("l_partkey") % 2000).alias("item")
    )
    return common_neighbor_links(
        cooccurrence_edges(inc, "l_orderkey", "item"), k=20
    )


_GRAPH_LINKS_ORACLE = """
    WITH inc AS (
      SELECT DISTINCT l_orderkey AS g, l_partkey % 2000 AS item
      FROM lineitem
    ),
    und AS (
      SELECT DISTINCT l.item AS a, r.item AS b
      FROM inc l JOIN inc r ON l.g = r.g AND l.item < r.item
    ),
    adj AS (
      SELECT a AS node, b AS nb FROM und
      UNION ALL SELECT b, a FROM und
    ),
    deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1),
    cn AS (
      SELECT l.node AS a, r.node AS b, count(*) AS cn
      FROM adj l JOIN adj r ON l.nb = r.nb AND l.node < r.node
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    ne AS (
      SELECT cn.a, cn.b, cn.cn FROM cn
      LEFT JOIN und ON und.a = cn.a AND und.b = cn.b
      WHERE und.a IS NULL
    )
    SELECT ne.a, ne.b, ne.cn, da.deg AS deg_a, db.deg AS deg_b,
           round(CAST(ne.cn AS DOUBLE)
                 / (da.deg + db.deg - ne.cn), 4) AS jaccard
    FROM ne
    JOIN deg da ON da.node = ne.a
    JOIN deg db ON db.node = ne.b
    ORDER BY ne.cn DESC, ne.a, ne.b LIMIT 20
"""


def q_obs_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix drift between two corpus snapshots (operators/
    profile.psi_by_key): per-source PSI contributions with additive
    smoothing over the union key set — the drift gate run on every
    ingest batch. The fixture drops one source from each side so both
    directions of the never-seen-bin case are exercised (a vanished
    source and a brand-new one)."""
    from geniepool_etl_spark.operators.profile import psi_by_key

    docs = _t(spark, sf_dir, "documents")
    old = docs.where(
        (F.col("doc_id") % 2 == 0) & (F.col("source") != "src19")
    )
    new = docs.where(
        (F.col("doc_id") % 2 == 1) & (F.col("source") != "src0")
    )
    return psi_by_key(old, new)


def q_obs_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/profile.expectations
    + uniqueness_check + referential_check + freshness_check): eight
    expectation rules — four single-scan conditional-sum predicates
    over lineitem (one aggregate, one scan), key uniqueness on
    orders, the lineitem→orders foreign key via LEFT ANTI join, and
    two freshness rules on the events feed (as-of pinned 1 h past the
    newest event — a 1-scalar collect, the watermark-flush precedent
    — so the 2 h-lag rule passes and the 30 min-lag rule fails with a
    deterministic 1.8e9 µs overshoot). The discount and 30 min rules
    FAIL on the fixture by design so the report demonstrably
    distinguishes ok=1 from ok=0."""
    from geniepool_etl_spark.operators.profile import (
        expectations,
        freshness_check,
        referential_check,
        uniqueness_check,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    base = expectations(
        li,
        [
            ("li_qty_in_range", "l_quantity BETWEEN 1 AND 50"),
            ("li_discount_le_8pct", "l_discount <= 0.08"),
            ("li_price_positive", "l_extendedprice > 0"),
            ("li_flag_known", "l_returnflag IN ('A', 'N', 'R')"),
        ],
    )
    # both key rules read ONLY o_orderkey — share one materialized
    # column frame so orders is scanned once, not twice (r16)
    okeys = o.select("o_orderkey").transform(GPF.ckpt_lazy)
    u = uniqueness_check(okeys, "o_orderkey", "o_orderkey_unique")
    r = referential_check(
        li, "l_orderkey", okeys, "o_orderkey", "li_orderkey_in_orders"
    )
    ev = _events(spark, sf_dir)
    # single-column events frame, three consumers (the as-of scalar
    # + both freshness rules): the build-time collect materializes
    # the lazy checkpoint, so the feed is scanned once (r16)
    ev_us = ev.select(
        event_micros(ev, "ts").alias("ts_us")
    ).transform(GPF.ckpt_lazy)
    mx = ev_us.agg(F.max("ts_us")).collect()[0][0]
    hour = 3_600_000_000
    f1 = freshness_check(
        ev_us, "ts_us", mx + hour, 2 * hour, "events_fresh_2h"
    )
    f2 = freshness_check(
        ev_us, "ts_us", mx + hour, hour // 2, "events_fresh_30m"
    )
    return (
        base.unionByName(u)
        .unionByName(r)
        .unionByName(f1)
        .unionByName(f2)
    )


def q_pipeline_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus card — the nightly one-pass report a
    training-data pipeline publishes: doc count, whitespace-token
    total, mean length, English share, and content-hash uniqueness
    ratio (1 − dup rate), all from a single grouped pass over the
    scan (the distinct-md5 arm is the only expand; raw text never
    shuffles — only its 16-byte digest)."""
    docs = _t(spark, sf_dir, "documents")
    cnt = F.count(F.lit(1))
    return docs.groupBy("source").agg(
        cnt.alias("n_docs"),
        F.sum(F.size(TX.words_col(F.col("text"))).cast("long"))
        .alias("total_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(
            F.sum((F.col("lang") == "en").cast("long")) / cnt, 4
        ).alias("en_share"),
        F.round(F.count_distinct(F.md5(F.col("text"))) / cnt, 4)
        .alias("uniq_ratio"),
    )


def q_obs_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic (operators/profile.ks_statistic)
    on the document length distribution, English vs non-English — the
    numeric-drift gate next to the binned PSI. Per-value counts are
    the only data-sized aggregates; CDFs are running integer sums
    over the tiny merged-values frame."""
    from geniepool_etl_spark.operators.profile import ks_statistic

    docs = _t(spark, sf_dir, "documents")
    return ks_statistic(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") != "en"),
        value_col="n_chars",
    )


def q_multimodal_decode_mp3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real MP3 round-trip through the stdlib MPEG frame walker:
    per-document audio parameters derived JVM-side (oracle-
    reproducible), encoded as genuine MPEG-1 Layer III frame streams
    behind an ID3v2 tag inside Arrow mapInPandas, then decoded back
    by ``decode_audio``'s header walk (frame COUNT and floor-integer
    duration are exact; 1152 samples/frame is fixed by the spec) —
    the compressed-audio leg next to the WAV lane; PCM sample decode
    stays the documented ffmpeg boundary. Both maps narrow."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 4 == 1)
        .select(
            F.col("doc_id").alias("asset_id"),
            F.element_at(
                F.array(F.lit(44100), F.lit(48000), F.lit(32000)),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).cast("long").alias("sample_rate"),
            (F.col("doc_id") % 2 + 1).cast("long").alias("n_channels"),
            (F.length("text") % 150 + 1).cast("long").alias("n_frames"),
            (32 * (F.col("doc_id") % 4 + 1)).cast("long")
            .alias("bitrate_kbps"),
        )
    )
    return M.decode_audio_features(M.synth_mp3_assets(params))


def q_multimodal_extract_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInArrow lane (multimodal.extract_features_arrow): same
    byte/char features as ``multimodal_extract`` computed on raw
    pyarrow RecordBatches — no pandas boxing of binary cells. Same
    oracle as the pandas lane; matching both proves the two
    Python-integration tiers agree."""
    assets = M.documents_as_assets(_t(spark, sf_dir, "documents"))
    return M.extract_features_arrow(assets)


def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real JPEG round-trip through the stdlib SOF marker walk: per-
    document image dimensions derived JVM-side (so the oracle
    recomputes them), encoded into genuine marker-correct JPEG
    containers (SOI/APP0/DQT/SOF0/EOI) inside Arrow ``mapInPandas``,
    then decoded back by ``decode_image`` — the image twin of
    ``multimodal_decode_wav``. The codec boundary is now narrowed to
    full *pixel* decode; all header metadata parses for real. Both
    maps are narrow; the payload never crosses a shuffle."""
    params = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 0)
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.lit(64) + F.col("doc_id") % 512).cast("long").alias("width"),
            (F.lit(36) + (F.col("doc_id") * 3) % 512)
            .cast("long")
            .alias("height"),
        )
    )
    return M.decode_image_features(M.synth_jpeg_assets(params))


# =====================================================================
# Round-3 extensions: upsert, sampling, IVF
# =====================================================================

def q_lake_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed merge (operators/upsert.merge_upsert): updated rows win,
    unmatched base rows survive — the MERGE result as one anti-join +
    union, no full outer join."""
    from geniepool_etl_spark.operators.upsert import merge_upsert

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = base.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    return merge_upsert(base, updates, ["o_orderkey"])


def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/upsert.merge_rollup):
    a standing per-user rollup (history through Jan 20) combined with
    a new batch's partials (Jan 21+) by merging MERGEABLE PARTIALS —
    sums/counts re-summed, min/max re-extremed, avg derived from
    (sum, n) at read time, never stored finished. The result must
    equal the full-history recompute, which is exactly what the
    oracle computes (it never sees the cutoff). Value sums ride as
    integer cents so merge order can't move an ulp. Daily cost at
    100 TB is O(day + |keys|), not O(history)."""
    from geniepool_etl_spark.operators.upsert import merge_rollup

    ev = E.with_event_time(_events(spark, sf_dir))
    cutoff_us = 1_705_795_200 * 1_000_000  # 2024-01-21 00:00 UTC
    cents = F.round(F.col("value") * 100).cast("long")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("sum_cents"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    merged = merge_rollup(
        partials(ev.where(F.col("ts_us") < cutoff_us)),
        partials(ev.where(F.col("ts_us") >= cutoff_us)),
        ["user_id"],
        count_cols=["n_events"],
        sum_cols=["sum_cents"],
        min_cols=["min_value"],
        max_cols=["max_value"],
    )
    sum_value = F.col("sum_cents") / F.lit(100.0)
    return merged.select(
        "user_id",
        "n_events",
        sum_value.alias("sum_value"),
        "min_value",
        "max_value",
        F.round(sum_value / F.col("n_events"), 4).alias("avg_value"),
    )


def q_p7_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling — the distributed, reproducible
    alternative to RNG-based ``df.sample`` (same rows on every engine,
    every run, any partitioning): keep a row iff a content hash of its
    key lands in the sample window."""
    li = _t(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    return li.where(portable_hash32(key, 7) % 20 == 0).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: inverted lists under
    deterministic seed centroids, queries probe nprobe lists
    (operators/similarity.ivf_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb, emb.where("vec_id < 8"), k=5, n_centroids=16, nprobe=4
    )


def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate nearest neighbors (operators/similarity.
    ivfpq_topk) — the canonical 100 TB ANN memory shape: IVF probing
    restricts candidates to inverted lists (equi-join on the centroid
    key, never all-pairs), and within the lists the distance is the
    PQ asymmetric-distance approximation — each candidate contributes
    only its 4 subspace CODES, scored against the query's broadcast
    per-subspace lookup table; the raw corpus vector never reaches
    the scoring join. All distances rank as integers (round(L2²·10⁶))
    with id tiebreaks, so the oracle replays every code and every cut
    bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivfpq_topk(
        emb, emb.where("vec_id < 8"), k=5, n_centroids=16, nprobe=4
    )


def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quality gate — the third leg of the ANN instrument set
    (``sim_lsh_recall`` for embedding LSH, ``dedup_lsh_recall`` for
    text MinHash-LSH): recall@5 of the IVF probe path against exact
    brute force, per query. ``nprobe`` is the knob this measures —
    nprobe = n_centroids provably reaches recall 1.0 (asserted in
    tests); the entry pins the curve's measured point at nprobe=4."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where("vec_id < 8")
    brute = S.cosine_topk(emb, queries, k=5)
    ivf = S.ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4)
    hits = brute.select("q_id", "n_id").join(
        ivf.select("q_id", "n_id"), ["q_id", "n_id"], "left_semi"
    )
    per_q = hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_matched"))
    return (
        brute.select("q_id")
        .distinct()
        .join(per_q, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_matched"), F.lit(0))
            .cast("long")
            .alias("n_matched"),
            F.round(
                F.coalesce(F.col("n_matched"), F.lit(0)) / F.lit(5.0), 4
            ).alias("recall_at_5"),
        )
    )


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tf-idf: top-3 terms per document (operators/text.
    tfidf_top_terms) — one explode, df derived from the tf aggregate,
    N broadcast."""
    return TX.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing: digit runs masked, run count + scrubbed
    content hash (operators/text.with_scrubbed_numbers)."""
    return TX.with_scrubbed_numbers(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_digit_runs", "scrubbed_md5"
    )


def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII triage counts (emails / URLs / phone-shaped runs) + flag —
    the detect step ahead of ``text_scrub``'s redact step. The raw
    documents carry no planted PII, so deterministic markers are
    seeded JVM-side from ``doc_id`` (both engines derive the same
    text) — every modulus class exercises a different detector
    combination, including none."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), did, F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" see https://example.org/d/"), did),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(" call +1 555-0100 now")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return TX.with_pii_counts(seeded).select(
        "doc_id", "n_emails", "n_urls", "n_phones", "has_pii"
    )


def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance precision pass over the Jaccard candidate pairs
    (operators/dedup.levenshtein_pairs) — exact O(n·m) scoring confined
    to bucketed candidates, never all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, n=3).where(F.col("jaccard") >= 0.1)
    return D.levenshtein_pairs(docs, pairs)


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: per user, one row for EVERY day between
    their first and last event (0-filled) — the gap-fill shape feature
    pipelines need before windowed training aggregates. Distributed as
    explode(sequence(lo, hi)) per user — no driver-side calendar."""
    ev0 = _events(spark, sf_dir)
    # integer div chain (never / — double division rounds at 1e18)
    ev = ev0.withColumn("_us", event_micros(ev0, "ts"))
    e = ev.select("user_id", F.expr("_us div 86400000000").alias("day"))
    counts = e.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("_n")
    )
    spans = e.groupBy("user_id").agg(
        F.min("day").alias("_lo"), F.max("day").alias("_hi")
    )
    cal = spans.select(
        "user_id",
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("day"),
    )
    return cal.join(counts, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_events"),
    )


def q_dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: training docs whose n-gram Jaccard against a
    benchmark set (doc_id < 25) exceeds threshold
    (operators/dedup.cross_jaccard). Self-pairs excluded."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where("doc_id < 25")
    pairs = D.cross_jaccard(bench, docs, n=3)
    return pairs.where(
        (F.col("jaccard") >= 0.02) & (F.col("id_l") != F.col("id_r"))
    ).select("id_l", "id_r", "inter", "size_l", "size_r", "jaccard")


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing sampler (operators/sampling): per-source target
    rates applied via a deterministic hash gate."""
    from geniepool_etl_spark.operators.sampling import (
        stratified_hash_sample,
    )

    return stratified_hash_sample(
        _t(spark, sf_dir, "documents"),
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_fraction=0.1,
    ).select("doc_id", "source")


def q_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch shuffle (operators/sampling.
    deterministic_shuffle): every doc addressed by (shard, pos) from a
    content hash — pseudorandom order, zero RNG state, shard-local
    ranks (never a global sort)."""
    from geniepool_etl_spark.operators.sampling import (
        deterministic_shuffle,
    )

    return deterministic_shuffle(
        _t(spark, sf_dir, "documents"), n_shards=8
    ).select("doc_id", "shard", "pos")


def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/text.chunk_documents):
    overlapping 64-word windows at stride 48, one row per chunk."""
    return TX.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_words=64, stride_words=48
    )


def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop quality gate with reasons
    (operators/text.quality_filter)."""
    return TX.quality_filter(_t(spark, sf_dir, "documents"))


def q_text_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (per-source z-score of doc length)
    checked against the exact SQL formula — pins the Arrow grouped-map
    lane (operators/text.zscore_by_group)."""
    return TX.zscore_by_group(_t(spark, sf_dir, "documents"))


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, with
    day-1 and day-7 return counts — the engagement matrix every events
    pipeline ships. r16: the cohort day is a ``min`` window over the
    distinct-(user, day) frame instead of a separate aggregate joined
    back — the old shape consumed ``days`` twice (each consumer
    replaying the events scan+distinct) and paid a cohort exchange
    plus a join exchange; the window rides the user-key clustering in
    one pass and attaches the identical per-user minimum."""
    from pyspark.sql import Window

    ev0 = _events(spark, sf_dir)
    ev = ev0.withColumn("_us", event_micros(ev0, "ts"))
    days = ev.select(
        "user_id", F.expr("_us div 86400000000").alias("day")
    ).distinct()
    j = days.withColumn(
        "cohort_day",
        F.min("day").over(Window.partitionBy("user_id")),
    )
    return j.groupBy("cohort_day").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct(
            F.when(F.col("day") == F.col("cohort_day") + 1, F.col("user_id"))
        ).alias("n_day1"),
        F.count_distinct(
            F.when(F.col("day") == F.col("cohort_day") + 7, F.col("user_id"))
        ).alias("n_day7"),
    )


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (operators/profile.profile_columns): null
    rates, exact cardinalities, min/max per column in ONE scan."""
    from geniepool_etl_spark.operators.profile import profile_columns

    return profile_columns(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_orderstatus", "o_orderpriority"],
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → click → purchase, 24 h conversion
    windows): users counted at the deepest stage they reached, each
    stage gated on the previous stage's earliest completion time
    (operators/events.funnel_stages)."""
    ev = E.with_event_time(_events(spark, sf_dir))
    staged = E.funnel_stages(
        ev,
        ["signup", "click", "purchase"],
        within_us=24 * 3600 * 1_000_000,
    )
    return staged.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))


def q_events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence mining (operators/events.
    sequence_pattern_counts): each user's time-ordered events fold to
    a one-char-per-event symbol string (one shuffle on the user key,
    payload 1 byte/event) and ``V+C[^P]*P`` — views, then a click,
    then EVENTUALLY a purchase — is counted as non-overlapping regex
    matches JVM-side. The "eventually" gap is a negated class, not a
    lazy dot, so Java (Spark) and RE2-style (oracle) engines agree on
    the scan; ordering ties break on event_id."""
    ev = E.with_event_time(_events(spark, sf_dir))
    return E.sequence_pattern_counts(
        ev,
        "V+C[^P]*P",
        {
            "signup": "S",
            "view": "V",
            "click": "C",
            "purchase": "P",
            "error": "E",
        },
    )


# =====================================================================
# Flagship: the lake-build-shaped two-level nest
# =====================================================================

def q_flagship_lake_nest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core dataflow shape on the star schema:
    scan → left join (annotation) → first-level collect_set nest →
    bucket derivation → second-level nest (pipeline.py ≙ M:43-79)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    # r16 optimization, two steps, result bit-identical (oracle-proven
    # at sf0.001/0.01/0.1; the DuckDB oracle still computes the
    # collect_set formulation independently):
    #
    # 1. (guide §2.3 "aggregate before you shuffle" / §3.3) nest
    #    BEFORE the orders join, so the join probes one pre-aggregated
    #    row per order instead of every line row. Equivalent to
    #    joining first and grouping on (l_orderkey, o_orderstatus)
    #    because o_orderkey is the orders table's unique key in this
    #    star schema: the join adds exactly one status per order (null
    #    when unmatched), so the (l_orderkey, o_orderstatus) groups
    #    are the l_orderkey groups. Measured at the sf10 decade:
    #    21.4/24.4/17.5 s → 14.8/14.6/14.1 s interleaved A/B.
    #
    # 2. (guide §1.2 "don't compute things you throw away" + §2.3
    #    narrower types) the nested items array is only ever consumed
    #    as size(items) = count of distinct line numbers, and
    #    l_linenumber lives in [1, 7] (TPC-H line-number domain), so
    #    the level-1 collect_set — a TypedImperativeAggregate that
    #    forces ObjectHashAggregate with per-group serialized array
    #    buffers — is replaced by a 64-bit BITMASK bit_or: a plain
    #    codegen'd HashAggregate whose partial state is 8 bytes, with
    #    distinct-count = bit_count(mask). Values outside [0, 63]
    #    raise (fail-loud domain guard) rather than silently aliasing
    #    under the mod-64 shift. Measured on top of step 1:
    #    13.5/13.9/13.5 s → 3.3/3.3/3.4 s interleaved A/B at sf10
    #    (ObjectHashAggregate → HashAggregate; the 300 MB partial
    #    array-buffer shuffle becomes ~120 MB of (key, mask) longs).
    masked = F.when(
        F.col("l_linenumber").between(0, 63),
        F.expr("shiftleft(cast(1 as bigint), l_linenumber)"),
    ).otherwise(
        F.raise_error(F.lit("l_linenumber outside [0,63] bitmask domain"))
    )
    items = li.groupBy("l_orderkey").agg(F.bit_or(masked).alias("mask"))
    lvl1 = items.join(
        orders, items.l_orderkey == orders.o_orderkey, "left"
    ).select("l_orderkey", "o_orderstatus", "mask")
    bucketed = lvl1.withColumn(
        "bucket", F.expr("l_orderkey div 1000").cast("long")
    )
    return bucketed.groupBy("bucket").agg(
        F.array_join(
            F.sort_array(F.collect_list("l_orderkey")).cast("array<string>"),
            ",",
        ).alias("order_keys"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.coalesce(F.bit_count("mask"), F.lit(0)))
        .cast("long")
        .alias("total_items"),
    )


# =====================================================================
# Oracle SQL (DuckDB) — paired by key
# =====================================================================

def _h(expr: str, seed: int = 0) -> str:
    return portable_hash32_sql(expr, seed)


_WORDS_CTE = r"""
words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
)
"""

_SHINGLES_CTE = r"""
sh AS (
  SELECT DISTINCT id, shingle FROM (
    SELECT doc_id AS id,
           unnest(CASE WHEN len(w) >= 3
             THEN list_transform(range(1, len(w) - 1),
                                 i -> array_to_string(w[i:i+2], ' '))
             ELSE CAST([] AS VARCHAR[]) END) AS shingle
    FROM words
  )
)
"""


def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), i -> {a}[i] * {b}[i])), "
        f"(acc, v) -> acc + v)"
    )


def _incr_minhash_oracle() -> str:
    """Incremental near-dup oracle: signatures/banding identical to
    ``_minhash_oracle`` but over the dup-injected corpus, with the
    hot-bucket cap applied PER SIDE (corpus frequencies at index-build
    time, batch frequencies at ingest time) exactly as the operator
    does, then a cross-side (band, key) join."""
    num_perm, bands, rows = 16, 4, 4
    sig_cols = ",\n    ".join(
        f"min({_h('shingle', k)}) AS h{k}" for k in range(num_perm)
    )
    band_selects = []
    for bi in range(bands):
        slice_cols = ", ".join(
            f"CAST(h{bi * rows + r} AS VARCHAR)" for r in range(rows)
        )
        key = _h(f"concat_ws(',', {slice_cols})", 10_000 + bi)
        band_selects.append(f"SELECT id, {bi} AS band, {key} AS key FROM sigs")
    banded = "\n  UNION ALL\n  ".join(band_selects)
    agree = " + ".join(
        f"CASE WHEN sb.h{k} = sc.h{k} THEN 1 ELSE 0 END"
        for k in range(num_perm)
    )
    return rf"""
WITH d AS ({_DOCS_WITH_DUPS_SQL}),
words AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM d),
{_SHINGLES_CTE.strip()},
sigs AS (
  SELECT id,
    {sig_cols}
  FROM sh GROUP BY id
),
banded AS (
  {banded}
),
hot_c AS (
  SELECT band, key FROM banded WHERE id < 1000000
  GROUP BY band, key HAVING count(*) > 200
),
cap_c AS (
  SELECT b.* FROM (SELECT * FROM banded WHERE id < 1000000) b
  ANTI JOIN hot_c h USING (band, key)
),
hot_b AS (
  SELECT band, key FROM banded WHERE id >= 1000000
  GROUP BY band, key HAVING count(*) > 200
),
cap_b AS (
  SELECT b.* FROM (SELECT * FROM banded WHERE id >= 1000000) b
  ANTI JOIN hot_b h USING (band, key)
),
pairs AS (
  SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
  FROM cap_b b JOIN cap_c c USING (band, key)
)
SELECT p.batch_id, p.corpus_id,
       round(({agree}) / 16.0, 4) AS est_jaccard
FROM pairs p
JOIN sigs sb ON sb.id = p.batch_id
JOIN sigs sc ON sc.id = p.corpus_id
"""


def _minhash_oracle() -> str:
    num_perm, bands, rows = 16, 4, 4
    sig_cols = ",\n    ".join(
        f"min({_h('shingle', k)}) AS h{k}" for k in range(num_perm)
    )
    band_selects = []
    for bi in range(bands):
        slice_cols = ", ".join(
            f"CAST(h{bi * rows + r} AS VARCHAR)" for r in range(rows)
        )
        key = _h(f"concat_ws(',', {slice_cols})", 10_000 + bi)
        band_selects.append(f"SELECT id, {bi} AS band, {key} AS key FROM sigs")
    banded = "\n  UNION ALL\n  ".join(band_selects)
    agree = " + ".join(
        f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END" for k in range(num_perm)
    )
    return f"""
WITH {_WORDS_CTE.strip()},
{_SHINGLES_CTE.strip()},
sigs AS (
  SELECT id,
    {sig_cols}
  FROM sh GROUP BY id
),
banded AS (
  {banded}
),
hot AS (
  SELECT band, key FROM banded GROUP BY band, key HAVING count(*) > 200
),
capped AS (
  SELECT b.* FROM banded b ANTI JOIN hot h USING (band, key)
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b
  FROM capped a JOIN capped c USING (band, key)
  WHERE a.id < c.id
)
SELECT p.id_a, p.id_b,
       round(({agree}) / 16.0, 4) AS est_jaccard
FROM pairs p
JOIN sigs sa ON sa.id = p.id_a
JOIN sigs sb ON sb.id = p.id_b
"""


def _warc_corpus_oracle() -> str:
    """Generated replay of the WARC-rooted curation flagship
    (q_pipeline_warc_corpus): page closed-forms from the WARC synth
    design → gopher word-count gate → the full minhash signature /
    banding / hot-cap / agreement pipeline (the _minhash_oracle
    pattern at num_perm 16 / bands 4) → greedy higher-id drop at
    agreement ≥ 8 → the sequential FFD greedy as a recursive CTE
    (the pack_bins_ffd pattern at budget 256)."""
    num_perm, bands, rows = 16, 4, 4
    sig_cols = ",\n    ".join(
        f"min({_h('shingle', k)}) AS h{k}" for k in range(num_perm)
    )
    band_selects = []
    for bi in range(bands):
        slice_cols = ", ".join(
            f"CAST(h{bi * rows + r} AS VARCHAR)" for r in range(rows)
        )
        key = _h(f"concat_ws(',', {slice_cols})", 10_000 + bi)
        band_selects.append(
            f"SELECT id, {bi} AS band, {key} AS key FROM sigs"
        )
    banded = "\n  UNION ALL\n  ".join(band_selects)
    agree = " + ".join(
        f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END"
        for k in range(num_perm)
    )
    return rf"""
WITH RECURSIVE prm AS (
  SELECT doc_id AS aid, 2 + doc_id % 3 AS n_rec
  FROM documents WHERE doc_id % 13 = 4
),
pg AS (
  SELECT aid * 8 + r AS page_id,
         'site' || (aid % 7) AS site,
         'd' || aid || ' ' || repeat('tok ', CAST(r AS INTEGER))
           || 'p' || aid || ' r' || r || ' '
           || repeat('filler ',
                CAST(42 + 3 * ((aid + r) % 4) AS INTEGER)) AS text,
         CAST(r + 45 + 3 * ((aid + r) % 4) AS BIGINT) AS n_words
  FROM prm, UNNEST(range(1, n_rec + 1)) AS u(r)
  WHERE (aid + r) % 5 <> 0
),
kept AS (SELECT * FROM pg WHERE n_words >= 50),
words AS (
  SELECT page_id AS id,
         string_split_regex(trim(text), '\s+') AS w
  FROM kept
),
sh AS (
  SELECT DISTINCT id, shingle FROM (
    SELECT id,
           unnest(CASE WHEN len(w) >= 3
             THEN list_transform(range(1, len(w) - 1),
                                 i -> array_to_string(w[i:i+2], ' '))
             ELSE CAST([] AS VARCHAR[]) END) AS shingle
    FROM words
  )
),
sigs AS (
  SELECT id,
    {sig_cols}
  FROM sh GROUP BY id
),
banded AS (
  {banded}
),
hot AS (
  SELECT band, key FROM banded GROUP BY band, key HAVING count(*) > 200
),
capped AS (
  SELECT b.* FROM banded b ANTI JOIN hot h USING (band, key)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b
  FROM capped a JOIN capped c USING (band, key)
  WHERE a.id < c.id
),
ag AS (
  SELECT p.id_a, p.id_b, ({agree}) AS agree
  FROM cand p
  JOIN sigs sa ON sa.id = p.id_a
  JOIN sigs sb ON sb.id = p.id_b
),
drops AS (SELECT DISTINCT id_b FROM ag WHERE agree >= 8),
surv AS (
  SELECT k.site, k.page_id, k.n_words AS n_tokens
  FROM kept k ANTI JOIN drops d ON k.page_id = d.id_b
),
rk AS (
  SELECT site, page_id, n_tokens,
         row_number() OVER (PARTITION BY site
           ORDER BY n_tokens DESC, page_id) AS rnk
  FROM surv
),
steps AS (
  SELECT site, 0 AS rnk, CAST([] AS BIGINT[]) AS loads,
         CAST([] AS INTEGER[]) AS bins
  FROM (SELECT DISTINCT site FROM rk)
  UNION ALL
  SELECT s.site, s.rnk + 1,
    CASE WHEN nullif(list_position(list_transform(s.loads,
           l -> l + i.n_tokens <= 256), true), 0) IS NULL
         THEN list_append(s.loads, i.n_tokens)
         ELSE list_transform(range(1, len(s.loads) + 1), k ->
           CASE WHEN k = list_position(list_transform(
                  s.loads, l -> l + i.n_tokens <= 256), true)
                THEN s.loads[k] + i.n_tokens
                ELSE s.loads[k] END) END,
    list_append(s.bins,
      CAST(coalesce(nullif(list_position(list_transform(
             s.loads, l -> l + i.n_tokens <= 256), true), 0),
           len(s.loads) + 1) - 1 AS INTEGER))
  FROM steps s
  JOIN rk i ON i.site = s.site AND i.rnk = s.rnk + 1
),
final AS (
  SELECT site, loads, bins FROM steps s
  WHERE rnk = (SELECT max(rnk) FROM rk r WHERE r.site = s.site)
)
SELECT i.site, i.page_id, i.n_tokens,
       f.bins[i.rnk] AS bin_idx,
       f.loads[f.bins[i.rnk] + 1] AS bin_load
FROM rk i JOIN final f USING (site)
"""


def _simhash_oracle() -> str:
    bit_terms = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hs, v -> (v >> {b}) & 1 = 1)) - n > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(32)
    )
    return f"""
WITH {_WORDS_CTE.strip()},
h AS (
  SELECT doc_id AS id, list_transform(w, x -> {_h('x', 0)}) AS hs,
         len(w) AS n
  FROM words
)
SELECT id, CAST({bit_terms} AS BIGINT) AS simhash FROM h
"""


def _jaccard_oracle() -> str:
    return f"""
WITH {_WORDS_CTE.strip()},
{_SHINGLES_CTE.strip()},
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 100),
capped AS (SELECT s.* FROM sh s ANTI JOIN hot h USING (shingle)),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM capped a JOIN capped b USING (shingle)
  WHERE a.id < b.id
  GROUP BY a.id, b.id
)
SELECT i.id_a, i.id_b, i.inter, sa.sz AS size_a, sb.sz AS size_b,
       round(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE round(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 4) >= 0.1
"""


def _cosine_sql(qe: str, ne: str) -> str:
    return (
        f"round({_dot_sql(qe, ne)} / "
        f"(sqrt({_dot_sql(qe, qe)}) * sqrt({_dot_sql(ne, ne)})), 4)"
    )


def _sim_int8_oracle() -> str:
    """Int8-quantized brute top-5: symmetric 127/max|v| per-vector
    quantization, integer dots (exact as doubles — every addend is an
    integer ≪ 2^53), float only in the final ratio."""
    return f"""
WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
v AS (
  SELECT vec_id,
         list_transform(e, x -> round(
           x * (127.0 / list_max(list_transform(e, y -> abs(y))))
         )) AS e
  FROM v0
  WHERE list_max(list_transform(e, y -> abs(y))) > 0
),
q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 8),
s AS (
  SELECT q.q_id, v.vec_id AS n_id,
         round({_dot_sql('q.qe', 'v.e')} /
               (sqrt({_dot_sql('q.qe', 'q.qe')}) *
                sqrt({_dot_sql('v.e', 'v.e')})), 4) AS q_cos
  FROM v CROSS JOIN q WHERE v.vec_id <> q.q_id
)
SELECT q_id, n_id, q_cos FROM s
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY q_cos DESC, n_id) <= 5
"""


def _pca_power_oracle(n_iter: int = 3, dim: int = 64) -> str:
    """Unrolled power-iteration replay: one (projection, component-
    sum, renormalize) CTE triple per iteration — generated, so the
    step structure cannot drift from n_iter."""
    parts = [
        "WITH x AS (SELECT list_transform(embedding, "
        "t -> CAST(t AS DOUBLE)) AS e FROM embeddings),\n"
        f"v0 AS (SELECT list_transform(range({dim}), "
        f"j -> 1.0 / sqrt({dim}.0)) AS v)"
    ]
    for k in range(1, n_iter + 1):
        parts.append(
            f""",
d{k} AS (
  SELECT e, list_reduce(list_transform(range(1, {dim + 1}),
    i -> e[i] * v{k - 1}.v[i]), (a, b) -> a + b) AS d
  FROM x, v{k - 1}
),
s{k} AS (
  SELECT j, sum(e[j] * d) AS s
  FROM d{k}, UNNEST(range(1, {dim + 1})) AS u(j) GROUP BY j
),
v{k} AS (
  SELECT list_transform(list(s ORDER BY j), t -> t
    / sqrt(list_reduce(list_transform(list(s ORDER BY j),
        q -> q * q), (a, b) -> a + b))) AS v
  FROM s{k}
)"""
        )
    parts.append(
        f"""
SELECT CAST(j - 1 AS INTEGER) AS pos, round(v[j], 4) AS loading
FROM v{n_iter}, UNNEST(range(1, {dim + 1})) AS u(j)"""
    )
    return "".join(parts)


def _sim_brute_oracle() -> str:
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 8),
s AS (
  SELECT q.q_id, v.vec_id AS n_id, {_cosine_sql('q.qe', 'v.e')} AS cos_sim
  FROM v CROSS JOIN q WHERE v.vec_id <> q.q_id
)
SELECT q_id, n_id, cos_sim FROM s
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) <= 5
"""


def _sim_mmr_oracle(
    k: int = 5, pool: int = 20, lam_num: int = 7, lam_rem: int = 3
) -> str:
    """Unrolled k-step MMR replay: the greedy argmax per step is a
    QUALIFY row_number()=1 over integer scores; each step's picked
    set feeds the next step's max-sim aggregate. Generated (not
    hand-written) so the step structure cannot drift from k."""
    cos_qv = _cosine_sql("q.qe", "v.e")
    cos_ab = _cosine_sql("a.e", "b.e")
    parts = [f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 8),
s0 AS (
  SELECT q.q_id, v.vec_id AS n_id, {cos_qv} AS cs, v.e AS e
  FROM v CROSS JOIN q WHERE v.vec_id <> q.q_id
  QUALIFY row_number() OVER (
    PARTITION BY q.q_id ORDER BY {cos_qv} DESC, v.vec_id) <= {pool}
),
s AS (
  SELECT q_id, n_id, CAST(round(cs * 10000) AS BIGINT) AS rel, e
  FROM s0
),
pw AS (
  SELECT a.q_id, a.n_id AS i, b.n_id AS j,
         CAST(round({cos_ab} * 10000) AS BIGINT) AS sim
  FROM s a JOIN s b ON a.q_id = b.q_id AND a.n_id <> b.n_id
),
sel1 AS (
  SELECT q_id, n_id, CAST(1 AS INT) AS rank,
         {lam_num} * rel AS mmr_score
  FROM s
  QUALIFY row_number() OVER (
    PARTITION BY q_id ORDER BY rel DESC, n_id) = 1
),
picked1 AS (SELECT q_id, n_id FROM sel1)"""]
    for t in range(2, k + 1):
        parts.append(f""",
rem{t} AS (
  SELECT s.* FROM s
  ANTI JOIN picked{t - 1} p ON s.q_id = p.q_id AND s.n_id = p.n_id
),
sc{t} AS (
  SELECT r.q_id, r.n_id,
         {lam_num} * r.rel - {lam_rem} * max(pw.sim) AS mmr_score
  FROM rem{t} r
  JOIN pw ON pw.q_id = r.q_id AND pw.i = r.n_id
  JOIN picked{t - 1} kk ON kk.q_id = pw.q_id AND kk.n_id = pw.j
  GROUP BY r.q_id, r.n_id, r.rel
),
sel{t} AS (
  SELECT q_id, n_id, CAST({t} AS INT) AS rank, mmr_score
  FROM sc{t}
  QUALIFY row_number() OVER (
    PARTITION BY q_id ORDER BY mmr_score DESC, n_id) = 1
),
picked{t} AS (
  SELECT q_id, n_id FROM picked{t - 1}
  UNION ALL SELECT q_id, n_id FROM sel{t}
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT q_id, rank, n_id, mmr_score FROM sel{t}"
        for t in range(1, k + 1)
    )
    parts.append("\n" + union)
    return "".join(parts)


def _bucket_sql(n_planes: int) -> str:
    from geniepool_etl_spark.operators.similarity import hyperplane

    terms = []
    for p in range(n_planes):
        plane = "[" + ", ".join(repr(c) for c in hyperplane(p, 64)) + "]"
        terms.append(
            f"CASE WHEN {_dot_sql('e', f'CAST({plane} AS DOUBLE[])')} > 0 "
            f"THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    return " + ".join(terms)


_CAP_CTE = """
hot AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) > 200),
capped AS (SELECT b.* FROM b ANTI JOIN hot USING (bucket))
"""


def _dedup_embedding_oracle() -> str:
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
b AS (SELECT vec_id, e, ({_bucket_sql(4)}) AS bucket FROM v),
{_CAP_CTE.strip()},
s AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         {_cosine_sql('a.e', 'c.e')} AS cos_sim
  FROM capped a JOIN capped c USING (bucket)
  WHERE a.vec_id < c.vec_id
)
SELECT id_a, id_b, cos_sim FROM s WHERE cos_sim >= 0.3
"""


def _sim_lsh_oracle() -> str:
    # Mirrors lsh_bucket_topk with max_bucket=200 and multi_probe: the
    # probe list is the own bucket plus each single-plane flip.
    bucket = _bucket_sql(8)
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, CAST({1 << p} AS BIGINT))" for p in range(8)]
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
b AS (SELECT vec_id, e, ({bucket}) AS bucket FROM v),
{_CAP_CTE.strip()},
probes AS (
  SELECT vec_id, e, unnest([{probe_list}]) AS pb FROM capped
),
s AS (
  SELECT a.vec_id AS q_id, c.vec_id AS n_id,
         {_cosine_sql('a.e', 'c.e')} AS cos_sim
  FROM probes a JOIN capped c ON c.bucket = a.pb
  WHERE a.vec_id <> c.vec_id
)
SELECT q_id, n_id, cos_sim FROM s
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) <= 5
"""


def _sim_ivf_oracle() -> str:
    # Mirrors ivf_topk(n_centroids=16, nprobe=4, queries = vec_id < 8):
    # centroids are the 16 lowest-id vectors; corpus vectors join their
    # single nearest centroid's list; queries probe their 4 nearest.
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
n AS (SELECT vec_id, e, sqrt({_dot_sql('e', 'e')}) AS nrm FROM v),
c AS (
  SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM n
  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)
),
asgn AS (
  SELECT n.vec_id AS id, n.e, n.nrm, c.cid,
         round({_dot_sql('n.e', 'c.ce')} / (n.nrm * c.cnrm), 9) AS cs
  FROM n CROSS JOIN c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY cs DESC, cid) AS rk
  FROM asgn
),
lists AS (
  SELECT id AS n_id, e AS ne, nrm AS nn, cid FROM ranked WHERE rk = 1
),
probes AS (
  SELECT id AS q_id, e AS qe, nrm AS qn, cid FROM ranked
  WHERE rk <= 4 AND id < 8
),
s AS (
  SELECT DISTINCT q_id, n_id,
         round({_dot_sql('qe', 'ne')} / (qn * nn), 4) AS cos_sim
  FROM probes JOIN lists USING (cid)
  WHERE q_id <> n_id
)
SELECT q_id, n_id, cos_sim FROM s
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) <= 5
"""


def _sim_ivfpq_oracle() -> str:
    # Mirrors ivfpq_topk(n_centroids=16, nprobe=4, n_sub=4, dim=64,
    # n_codes=16, queries = vec_id < 8): IVF lists/probes as in
    # _sim_ivf_oracle; PQ codes = per-subspace nearest seed sub-slice
    # by integer-scaled L2² (lowest-j ties); ADC = code-summed LUT.
    def l2s(a: str, b: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1 + sub.s * 16, 17 + sub.s * 16), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
            "(acc, v) -> acc + v)"
        )

    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
n AS (SELECT vec_id, e, sqrt({_dot_sql('e', 'e')}) AS nrm FROM v),
c AS (
  SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM n
  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)
),
asgn AS (
  SELECT n.vec_id AS id, c.cid,
         round({_dot_sql('n.e', 'c.ce')} / (n.nrm * c.cnrm), 9) AS cs
  FROM n CROSS JOIN c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY cs DESC, cid) AS rk
  FROM asgn
),
lists AS (SELECT id AS n_id, cid FROM ranked WHERE rk = 1),
probes AS (SELECT id AS q_id, cid FROM ranked WHERE rk <= 4 AND id < 8),
pairs AS (
  SELECT DISTINCT q_id, n_id FROM probes JOIN lists USING (cid)
  WHERE q_id <> n_id
),
seeds AS (
  SELECT vec_id AS j, e AS ce FROM v
  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)
),
sub AS (SELECT unnest(range(4)) AS s),
coded AS (
  SELECT v.vec_id AS id, sub.s, seeds.j,
         row_number() OVER (
           PARTITION BY v.vec_id, sub.s
           ORDER BY CAST(round({l2s('v.e', 'seeds.ce')} * 1000000)
                         AS BIGINT), seeds.j
         ) AS rk
  FROM v CROSS JOIN sub CROSS JOIN seeds
),
codes AS (SELECT id, s, j AS code FROM coded WHERE rk = 1),
lut AS (
  SELECT v.vec_id AS q_id, sub.s, seeds.j,
         CAST(round({l2s('v.e', 'seeds.ce')} * 1000000) AS BIGINT) AS d2i
  FROM v CROSS JOIN sub CROSS JOIN seeds WHERE v.vec_id < 8
),
scored AS (
  SELECT p.q_id, p.n_id, CAST(sum(lut.d2i) AS BIGINT) AS di
  FROM pairs p
  JOIN codes ON codes.id = p.n_id
  JOIN lut ON lut.q_id = p.q_id AND lut.s = codes.s
          AND lut.j = codes.code
  GROUP BY 1, 2
)
SELECT q_id, n_id, round(di / 1000000.0, 4) AS adist2
FROM scored
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY di, n_id) <= 5
"""


def _lang_id_oracle() -> str:
    # Full recompute of the Cavnar-Trenkle pipeline: trigram
    # profiles from the labeled corpus, per-doc top-k ranking,
    # integer out-of-place distance, argmin with lang tiebreak —
    # every step integer/string-exact, so no rounding convention is
    # even needed.
    return """
        WITH tri AS (
          SELECT doc_id, lang,
                 unnest(list_transform(
                   range(1, length(lower(text)) - 1),
                   i -> substr(lower(text), CAST(i AS INT), 3)
                 )) AS tri
          FROM documents WHERE length(text) >= 3
        ),
        lp AS (
          SELECT lang, tri,
                 row_number() OVER (
                   PARTITION BY lang ORDER BY count(*) DESC, tri
                 ) AS rank
          FROM tri GROUP BY lang, tri
          QUALIFY rank <= 50
        ),
        dp AS (
          SELECT doc_id, tri,
                 row_number() OVER (
                   PARTITION BY doc_id ORDER BY count(*) DESC, tri
                 ) AS drank
          FROM tri GROUP BY doc_id, tri
          QUALIFY drank <= 50
        ),
        langs AS (SELECT DISTINCT lang FROM documents),
        dist AS (
          SELECT dp.doc_id, l.lang,
                 sum(coalesce(abs(dp.drank - lp.rank), 50)) AS dist
          FROM dp CROSS JOIN langs l
          LEFT JOIN lp ON lp.lang = l.lang AND lp.tri = dp.tri
          GROUP BY 1, 2
        ),
        best AS (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY doc_id ORDER BY dist, lang
                 ) AS r
          FROM dist
        )
        SELECT d.doc_id, coalesce(b.lang, 'und') AS pred_lang
        FROM documents d
        LEFT JOIN (SELECT doc_id, lang FROM best WHERE r = 1) b
          USING (doc_id)
    """


# =====================================================================
# Round-6 second wave: dimension history, reconciliation, sequence
# mining, attribution, lexical retrieval, histogram, SQL subqueries
# =====================================================================

def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history from the events change log:
    per-user runs of ``event_type`` compressed to versioned validity
    intervals (operators/upsert.scd2_from_changelog) — the
    point-in-time-join side the reference's snapshot-only lake
    (M:127-138) cannot answer."""
    from geniepool_etl_spark.operators.upsert import scd2_from_changelog

    e = E.with_event_time(_events(spark, sf_dir))
    return scd2_from_changelog(
        e, key="user_id", ts_col="ts_us", attr="event_type",
        id_col="event_id",
    )


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest-based reconciliation of two keyed tables
    (operators/reconcile.diff_summary): ``orders`` vs a deterministic
    "migrated" replica with planted deletes (key % 101), priority
    mutations (% 97), and inserts (% 103 re-keyed) — the report a
    user runs to validate a lake migration. Only (key, md5) pairs
    shuffle; compared columns are integer/string renderings (price
    fixed to cents) so the digest is engine-portable."""
    from geniepool_etl_spark.operators.reconcile import diff_summary

    okey = F.col("o_orderkey")
    base = _t(spark, sf_dir, "orders").select(
        okey,
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    mutated = base.where(okey % 101 != 0).select(
        okey,
        "o_custkey",
        "o_orderstatus",
        F.when(okey % 97 == 0, F.lit("X-MUTATED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        "price_cents",
    )
    inserted = base.where(okey % 103 == 0).select(
        (okey + 100_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "price_cents",
    )
    right = mutated.unionByName(inserted)
    return diff_summary(
        base,
        right,
        keys=["o_orderkey"],
        compare_cols=[
            "o_custkey", "o_orderstatus", "o_orderpriority",
            "price_cents",
        ],
    )


def q_events_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (operators/events.transition_counts): count + row
    probability per (prev → next) pair; normalization totals
    broadcast back instead of a skewed low-cardinality window."""
    return E.transition_counts(_events(spark, sf_dir))


_ATTR_WITHIN_US = 24 * 60 * 60 * 1_000_000  # 24h attribution window


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (operators/events.attribute_last_touch):
    each purchase's value credited to the most recent prior
    non-purchase event type within 24h, 'direct' otherwise — one
    carried-touch window per user, no self-join."""
    return E.attribute_last_touch(
        _events(spark, sf_dir),
        conversion_type="purchase",
        within_us=_ATTR_WITHIN_US,
    )


_HIST_LO_CENTS = 0
_HIST_HI_CENTS = 50_000_000
_HIST_BUCKETS = 16
_HIST_WIDTH = (
    _HIST_HI_CENTS - _HIST_LO_CENTS + _HIST_BUCKETS - 1
) // _HIST_BUCKETS


def q_profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of ``o_totalprice``
    (operators/profile.histogram_equiwidth): exact integer-cents
    bucketing — no float boundary ambiguity across engines; one
    map-side-partial aggregate on 16 keys."""
    from geniepool_etl_spark.operators.profile import histogram_equiwidth

    return histogram_equiwidth(
        _t(spark, sf_dir, "orders"),
        "o_totalprice",
        lo_cents=_HIST_LO_CENTS,
        hi_cents=_HIST_HI_CENTS,
        n_buckets=_HIST_BUCKETS,
    )


_BM25_TERMS = ["vector", "stream", "hash"]


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (operators/text.bm25_topk): top-20
    documents for a fixed query-term set — per-doc tf/dl at scan
    speed, one 1-row global stats aggregate broadcast back, rounded
    deterministic top-k."""
    return TX.bm25_topk(
        _t(spark, sf_dir, "documents"), terms=_BM25_TERMS, k=20
    )


def q_j9_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: null-safe equality join (``eqNullSafe`` / SQL
    ``IS NOT DISTINCT FROM``): NULL keys match each other instead of
    dropping — still plans as a hash/sort-merge EQUI join (the
    null-safe key is a coalesced struct), never a nested-loop."""
    ev = _events(spark, sf_dir)
    k = F.when(
        F.col("user_id") % 11 == 0, F.lit(None).cast("long")
    ).otherwise(F.col("user_id") % 37)
    a = (
        ev.where(F.col("event_id") % 3 == 0)
        .select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("l_n"))
    )
    b = (
        ev.where(F.col("event_id") % 5 == 0)
        .select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("r_n"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "l_n", "r_n"
    )


def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (operators/upsert.point_in_time_join): each
    purchase event looks up the SCD2 state version valid AT its
    timestamp. Spark side is the union-carry as-of pattern (one
    keyed shuffle, no range join); the oracle states the interval
    predicate directly — the semantics equivalence IS the check."""
    from geniepool_etl_spark.operators.upsert import (
        point_in_time_join, scd2_from_changelog,
    )

    e = E.with_event_time(_events(spark, sf_dir))
    history = scd2_from_changelog(
        e, key="user_id", ts_col="ts_us", attr="event_type",
        id_col="event_id",
    )
    facts = e.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_us"
    )
    return point_in_time_join(
        facts, history, key="user_id", fact_ts="ts_us",
        attr="event_type", fact_id="event_id",
    )


# 2024-01-20T00:00:00Z — splits the 30-day event log into a standing
# prefix and an incremental batch for the SCD2 maintenance entry
_SCD2_SPLIT_US = 1_705_708_800 * 1_000_000


def q_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance (operators/upsert.
    scd2_apply_batch): standing history built from the log before the
    split + the later slice applied as a daily batch. The oracle is
    the FULL-log recompute — merge must equal rebuild exactly
    (versions, intervals, is_current), the same equivalence contract
    as ``rollup_incremental``."""
    from geniepool_etl_spark.operators.upsert import (
        scd2_apply_batch, scd2_from_changelog,
    )

    e = E.with_event_time(_events(spark, sf_dir))
    standing = scd2_from_changelog(
        e.where(F.col("ts_us") < _SCD2_SPLIT_US),
        key="user_id", ts_col="ts_us", attr="event_type",
        id_col="event_id",
    )
    batch = e.where(F.col("ts_us") >= _SCD2_SPLIT_US).select(
        "user_id", "ts_us", "event_type", "event_id"
    )
    return scd2_apply_batch(
        standing, batch, key="user_id", ts_col="ts_us",
        attr="event_type", id_col="event_id",
    )


def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance (streaming.maintain_scd2_stream):
    the event log staged as two disjoint mtime-ordered time-slices,
    one per micro-batch, merged into a batch-id-versioned standing
    history via foreachBatch — exactly-once by idempotent version
    recompute. The final history must equal the full-log batch
    rebuild, which the oracle computes directly."""
    from geniepool_etl_spark.streaming import run_scd2_stream

    return run_scd2_stream(spark, sf_dir, split_us=_SCD2_SPLIT_US)


def q_events_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state rollup (operators/events.dwell_times): per event
    type, interval count, total and integer-mean dwell µs — one
    lead-window per user, one small aggregate."""
    return E.dwell_times(_events(spark, sf_dir))


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (operators/sampling.
    leakage_safe_split): the assignment unit is the Jaccard near-dup
    CLUSTER, so no near-duplicate pair ever straddles the train/eval
    fence. Deterministic portable-hash gate — any engine reproduces
    the assignment for audit, which the oracle does verbatim."""
    from geniepool_etl_spark.operators.sampling import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, n=3).where(F.col("jaccard") >= 0.1)
    return leakage_safe_split(docs, pairs)


def q_text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level Shannon entropy per document (operators/text.
    word_entropy): the vocabulary-diversity quality signal — the
    cheap proxy for perplexity-based curation filters."""
    return TX.word_entropy(_t(spark, sf_dir, "documents"))


def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst suppression (operators/events.debounce): one event per
    (user, type) gap-chain — the replay/retry-storm collapse. The
    session-start test is a single lag window."""
    return E.debounce(_events(spark, sf_dir), window_us=E.US_PER_HOUR)


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (operators/sampling.
    sample_per_group): 5 docs per (lang, source) by smallest portable
    hash — reservoir semantics, zero RNG, engine-reproducible."""
    from geniepool_etl_spark.operators.sampling import sample_per_group

    return sample_per_group(
        _t(spark, sf_dir, "documents"),
        strata_cols=["lang", "source"],
        k=5,
    ).select("doc_id", "lang", "source")


def q_text_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer (operators/text.feature_hash_counts):
    sparse (doc, bucket, count) bag-of-words at fixed width 64 — no
    vocabulary pass, portable bucketing."""
    return TX.feature_hash_counts(
        _t(spark, sf_dir, "documents"), n_buckets=64
    )


def q_text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/text.
    dsir_importance_weights — Xie et al. 2023): hashed bag-of-words
    unigram log-likelihood ratio of every document against a
    'curated' target subset (doc_id % 7 == 3), add-one smoothed over
    64 buckets. The per-bucket log-ratio table is broadcast back —
    the 100 TB shape is two token scans + one per-doc aggregation;
    integer 1e-4-unit log accumulation keeps the result
    merge-order-exact."""
    docs = _t(spark, sf_dir, "documents")
    return TX.dsir_importance_weights(
        docs, docs.where(F.col("doc_id") % 7 == 3), n_buckets=64
    )


def q_text_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel top-k resampling (operators/text.dsir_resample):
    sample 40 docs without replacement ∝ exp(log_weight) via
    deterministic Gumbel keys (uniforms from the portable md5 hash of
    the doc id). The cut plans as TakeOrderedAndProject — never a
    global single-partition sort; the k winners join back as a
    broadcast."""
    docs = _t(spark, sf_dir, "documents")
    return TX.dsir_resample(
        docs, docs.where(F.col("doc_id") % 7 == 3), k=40,
        n_buckets=64,
    )


def q_events_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-pandas as-of join (operators/events.
    asof_join_cogroup): pandas ``merge_asof`` per user key over
    Arrow cogroup — same semantics, same oracle as the JVM
    union-carry ``events_asof_join``, cross-validating both lanes."""
    ev = E.with_event_time(_events(spark, sf_dir))
    return E.asof_join_cogroup(
        ev.where("event_type = 'purchase'"),
        ev.where("event_type = 'click'"),
    )


def q_w8_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: event-time RANGE frame — per event, how many of the same
    user's events fall in the trailing hour (RANGE BETWEEN 3.6e9 µs
    PRECEDING AND CURRENT ROW on integer epoch-micros). The
    rate-limit / burst-detection window; RANGE (value-based), not
    ROWS (count-based), so same-timestamp events share a frame."""
    e = E.with_event_time(_events(spark, sf_dir))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-E.US_PER_HOUR, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts_us",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
    )


def q_lake_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional merge (operators/upsert.merge_upsert_latest): an
    update wins only if strictly NEWER — late/re-delivered snapshots
    apply safely. Planted updates: odd event_ids arrive with a newer
    ts and a marker value; multiples of 4 arrive STALE (older ts)
    and must lose; equal-ts replays are no-ops by the base-wins
    tiebreak."""
    from geniepool_etl_spark.operators.upsert import merge_upsert_latest

    e = E.with_event_time(_events(spark, sf_dir)).select(
        "event_id", "user_id", "ts_us", "event_type"
    )
    newer = e.where(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id",
        (F.col("ts_us") + 1_000_000).alias("ts_us"),
        F.lit("corrected").alias("event_type"),
    )
    stale = e.where(F.col("event_id") % 4 == 0).select(
        "event_id", "user_id",
        (F.col("ts_us") - 1_000_000).alias("ts_us"),
        F.lit("stale").alias("event_type"),
    )
    return merge_upsert_latest(
        e, newer.unionByName(stale), keys=["event_id"], ts_col="ts_us"
    )


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows under readStream (streaming.run_sliding_stream):
    overlapping 1h windows sliding by 30min, count + sum — the
    distinct-free streamed form (streaming cannot run
    ``count_distinct``; that delta is the documented point)."""
    from geniepool_etl_spark.streaming import run_sliding_stream

    return run_sliding_stream(spark, sf_dir, name=f"sl_{next(_uniq)}")


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM table (operators/text.bigram_next_words): top-3 next
    words per word with conditional probability — zip-shift pairs,
    one pair aggregate, vocab-sized totals broadcast back."""
    return TX.bigram_next_words(_t(spark, sf_dir, "documents"), k=3)


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PMI collocations (operators/text.pmi_collocations):
    bigram counts with unigram margins from the bigram table itself
    (one tokenize pass), PMI rounded to integer 1/10000-nat units
    BEFORE the global top-k (TakeOrderedAndProject, (l, r) tiebreak)
    so float ordering never decides the cut; min_count=3 suppresses
    the hapax-pair pathology."""
    return TX.pmi_collocations(
        _t(spark, sf_dir, "documents"), k=20, min_count=3
    )


def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality scoring (operators/text.
    bigram_surprisal_scores): mean bigram surprisal per document
    under the corpus's own bigram LM — the CCNet-style filter
    signal. Per-bigram ln-surprisal is integer-rounded to 1/10000
    nats BEFORE summation, so every per-document score is exact
    integer arithmetic until one final IEEE division + round(4)."""
    return TX.bigram_surprisal_scores(_t(spark, sf_dir, "documents"))


_BPE_K = 3


def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (operators/text.
    bpe_learn_merges): 3 rounds of frequency-weighted pair counting
    over the corpus vocabulary, applying each winning merge with TRUE
    greedy left-to-right semantics via the space-doubled replace
    trick (see _greedy_merge_rep) — ' a a a a ' merges to ' aa aa ',
    exactly textbook BPE. The oracle unrolls the same 3 rounds as
    DuckDB CTEs replaying the identical doubled-space replace()."""
    return TX.bpe_learn_merges(
        _t(spark, sf_dir, "documents"), k=_BPE_K
    )


def _bpe_oracle(k: int) -> str:
    rounds = []
    for i in range(1, k + 1):
        prev = f"v{i - 1}"
        rounds.append(f"""
p{i} AS (
  SELECT t[i] AS l, t[i + 1] AS r,
         CAST(sum(freq) AS BIGINT) AS pair_count
  FROM (SELECT string_split(trim(rep), ' ') AS t, freq FROM {prev}),
       UNNEST(range(1, len(t))) AS u(i)
  GROUP BY 1, 2
),
b{i} AS (
  SELECT {i} AS step, l, r, l || r AS merged, pair_count
  FROM p{i} ORDER BY pair_count DESC, l, r LIMIT 1
),
v{i} AS (
  -- true-greedy merge apply via space-doubling (mirrors the Spark
  -- side's _greedy_merge_rep): widen boundaries to two spaces so
  -- back-to-back occurrences never share a delimiter, replace,
  -- collapse back
  SELECT replace(replace(replace(rep, ' ', '  '),
           ' ' || (SELECT l FROM b{i}) || '  '
               || (SELECT r FROM b{i}) || ' ',
           ' ' || (SELECT merged FROM b{i}) || ' '),
           '  ', ' ') AS rep, freq
  FROM {prev}
)""")
        union = " UNION ALL ".join(
            f"SELECT * FROM b{j}" for j in range(1, k + 1)
        )
    return f"""
WITH w AS (
  SELECT word AS w, count(*) AS freq FROM (
    SELECT unnest(
      string_split_regex(trim(lower(text)), '\\s+')) AS word
    FROM documents
  ) WHERE length(word) > 0 GROUP BY 1
),
v0 AS (
  SELECT ' ' || array_to_string(string_split_regex(w, ''), ' ')
           || ' ' AS rep,
         freq
  FROM w
),{",".join(rounds)}
{union}
"""


def _bpe_byte_fallback_oracle(k: int) -> str:
    """Replays bpe_token_counts_byte_fallback: learn-subset
    frequencies weight the pair counts (freq-0 encode-only words are
    excluded from counting, mirroring the Spark filter), v0 expands
    out-of-inventory chars to UTF-8 byte tokens, and the merge
    rounds are the standard doubled-space greedy replace."""
    rounds = []
    for i in range(1, k + 1):
        prev = f"v{i - 1}"
        rounds.append(f"""
p{i} AS (
  SELECT t[i] AS l, t[i + 1] AS r,
         CAST(sum(freq) AS BIGINT) AS pair_count
  FROM (SELECT string_split(trim(rep), ' ') AS t, freq
        FROM {prev} WHERE freq > 0),
       UNNEST(range(1, len(t))) AS u(i)
  GROUP BY 1, 2
),
b{i} AS (
  SELECT l, r, l || r AS merged FROM (
    SELECT l, r, pair_count FROM p{i}
    UNION ALL SELECT chr(2), chr(2), -1
  ) ORDER BY pair_count DESC, l, r LIMIT 1
),
v{i} AS (
  SELECT w, replace(replace(replace(rep, ' ', '  '),
           ' ' || (SELECT l FROM b{i}) || '  '
               || (SELECT r FROM b{i}) || ' ',
           ' ' || (SELECT merged FROM b{i}) || ' '),
           '  ', ' ') AS rep, freq
  FROM {prev}
)""")
    return f"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN text || ' ' || repeat(substring('{_CJK16}',
                     CAST(doc_id % 16 AS INT) + 1, 1), 2)
              ELSE text END AS text
  FROM documents
),
wpd AS (
  SELECT doc_id, word AS w, count(*) AS m FROM (
    SELECT doc_id, unnest(
      string_split_regex(trim(lower(text)), '\\s+')) AS word
    FROM docs2
  ) WHERE length(word) > 0 GROUP BY 1, 2
),
lw AS (
  SELECT w, CAST(sum(m) AS BIGINT) AS freq_learn
  FROM wpd WHERE doc_id % 4 <> 0 GROUP BY 1
),
inv AS (
  SELECT list(DISTINCT c) AS chars FROM (
    SELECT unnest(string_split_regex(w, '')) AS c FROM lw
  ) t WHERE length(c) > 0
),
v0 AS (
  SELECT w,
    ' ' || array_to_string(
      list_transform(string_split_regex(w, ''), c ->
        CASE WHEN list_contains(chars, c) THEN c
             ELSE array_to_string(list_transform(
               range(1, CAST(length(hex(encode(c))) / 2 AS BIGINT)
                        + 1),
               i -> '<0x' || substring(hex(encode(c)),
                      CAST(2 * i - 1 AS INT), 2) || '>'), ' ')
        END), ' ') || ' ' AS rep,
    COALESCE(freq_learn, 0) AS freq
  FROM (SELECT DISTINCT w FROM wpd) dw
       LEFT JOIN lw USING (w) CROSS JOIN inv
),{",".join(rounds)},
wt AS (
  SELECT w, CAST(len(string_split(trim(rep), ' ')) AS BIGINT)
           AS n_tok
  FROM v{k}
)
SELECT wpd.doc_id,
       CAST(sum(wpd.m) AS BIGINT) AS n_words,
       CAST(sum(wpd.m * wt.n_tok) AS BIGINT) AS n_tokens
FROM wpd JOIN wt USING (w)
GROUP BY wpd.doc_id
"""


def q_a18_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters (operators/sketch.
    countmin_heavy_hitters): depth-4 × width-256 counter sketch over
    300 part-family keys — width < |keys| on purpose, so collisions
    (and therefore nonzero overcounts) are guaranteed and the
    never-undercount property is exercised, not vacuous. Counters
    hash with the md5-portable hash and sum exactly, so the oracle
    recomputes the WHOLE sketch bit-for-bit — no tolerance band."""
    from geniepool_etl_spark.operators.sketch import (
        countmin_heavy_hitters,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 300).alias("fam")
    )
    return countmin_heavy_hitters(li, "fam", depth=4, width=256, k=20)


def _countmin_oracle(depth: int, width: int, k: int) -> str:
    fan = " UNION ALL ".join(
        f"SELECT key, exact, {d} AS d, "
        f"{portable_hash32_sql('key', seed=d)} % {width} AS b FROM keys"
        for d in range(depth)
    )
    return f"""
        WITH keys AS (
          SELECT l_partkey % 300 AS key, count(*) AS exact
          FROM lineitem GROUP BY 1
        ),
        hashed AS ({fan}),
        sketch AS (
          SELECT d, b, CAST(sum(exact) AS BIGINT) AS c
          FROM hashed GROUP BY d, b
        ),
        est AS (
          SELECT key, max(exact) AS exact, min(c) AS est
          FROM hashed JOIN sketch USING (d, b)
          GROUP BY key
        )
        SELECT key, exact, est, est - exact AS overcount
        FROM est ORDER BY est DESC, key LIMIT {k}
    """


def q_a19_loghist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/sketch.loghist_quantiles):
    log₂-octave histogram with 8 sub-buckets per octave in EXACT bit
    arithmetic (bin-length/shift/mask — no float log whose ulp wobble
    flips buckets), completing the sketch triad: distinct (HLL, a13),
    frequency (count-min, a18), quantiles (this). p50/p90/p99 of the
    order-price cents as guaranteed [lo, hi] enclosures with ≤12.5%
    relative width; the oracle rebuilds the identical sketch."""
    from geniepool_etl_spark.operators.sketch import loghist_quantiles

    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    return loghist_quantiles(o, "cents")


_LOGHIST_ORACLE = """
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    h AS (
      SELECT CASE WHEN cents < 1 THEN -1
                  WHEN cents < 16 THEN cents
                  ELSE 16 + (length(printf('%b', cents)) - 5) * 8
                       + ((cents >> (length(printf('%b', cents)) - 4))
                          & 7) END AS idx,
             count(*) AS n
      FROM c GROUP BY 1
    ),
    cum AS (SELECT idx, sum(n) OVER (ORDER BY idx) AS cum FROM h),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM h),
    q AS (
      SELECT 50 AS q_num, 100 AS q_den,
             (n * 50 + 99) // 100 AS rank FROM t
      UNION ALL SELECT 90, 100, (n * 90 + 99) // 100 FROM t
      UNION ALL SELECT 99, 100, (n * 99 + 99) // 100 FROM t
    ),
    picked AS (
      SELECT q_num, q_den, rank, min(idx) AS idx
      FROM cum, q WHERE cum >= rank GROUP BY 1, 2, 3
    )
    SELECT q_num, q_den, rank,
           CAST(CASE WHEN idx = -1 THEN NULL
                WHEN idx < 16 THEN idx
                ELSE (8 + (idx - 16) % 8) << ((idx - 16) // 8 + 1)
                END AS BIGINT) AS lo_cents,
           CAST(CASE WHEN idx = -1 THEN 0
                WHEN idx < 16 THEN idx
                ELSE ((8 + (idx - 16) % 8) << ((idx - 16) // 8 + 1))
                     + (1 << ((idx - 16) // 8 + 1)) - 1
                END AS BIGINT) AS hi_cents
    FROM picked
"""


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE (operators/text.bpe_token_counts): tokenize every
    document under the 3-merge vocabulary learned by the same
    algorithm as ``text_bpe_merges`` — per-doc (n_words, n_tokens),
    the token-budget number. Token counts are computed per DISTINCT
    word on the vocab frame and joined back — documents are never
    re-encoded word-by-word. Oracle unrolls the identical rounds and
    join in SQL."""
    return TX.bpe_token_counts(
        _t(spark, sf_dir, "documents"), k=_BPE_K
    )


_CJK16 = "一二三四五六七八九十百千万億兆京"


def q_text_bpe_byte_fallback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BPE ENCODE WITH BYTE FALLBACK (r15 — operators/text.
    bpe_token_counts_byte_fallback, the GPT-2/SentencePiece
    ``byte_fallback`` production shape): merges are learned on the
    doc_id % 4 != 0 subset only; characters that subset never saw
    decompose to UTF-8 ``<0xHH>`` byte tokens (one token per byte)
    instead of a single UNK. Guaranteed-OOV input: docs with
    doc_id % 4 == 0 get a doubled CJK character (3 UTF-8 bytes → 6
    byte tokens) appended that, by construction, never reaches the
    learn subset. Learn-side words encode identically to plain BPE;
    the learn-char inventory rides the plan as a 1-row broadcast
    array. Oracle unrolls the same rounds with the same fallback
    CASE expansion."""
    injected = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.expr(
                f"concat(text, ' ', repeat(substring('{_CJK16}', "
                "cast(doc_id % 16 as int) + 1, 1), 2))"
            ),
        ).otherwise(F.col("text")),
    )
    return TX.bpe_token_counts_byte_fallback(
        injected,
        k=_BPE_K,
        learn_df=injected.where(F.col("doc_id") % 4 != 0),
    )


def q_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM-LM TOKENIZER TRAINING (operators/text.
    unigram_lm_token_counts — Kudo 2018 / SentencePiece, hard-EM
    variant): substring seed vocabulary (all chars + top-64 multi-char
    pieces), Viterbi E-step under integer piece costs, usage-count
    M-step with pruning, then per-doc (n_words, n_tokens) billing
    under the re-estimated vocabulary. No driver-side corpus state:
    the vocab rides the plan as a broadcast 1-row map, the DP and
    walk are single JVM fold expressions. Oracle unrolls the same DP
    as nested subquery levels (both planners stay linear — lateral
    alias chaining is exponential under substitution)."""
    return TX.unigram_lm_token_counts(_t(spark, sf_dir, "documents"))


_UNI_MAXW, _UNI_MAXP, _UNI_V = 12, 4, 64


def _uni_estep(tag: str, words: str, cmap: str) -> str:
    """One E-step, unrolled as NESTED SUBQUERY LEVELS (one new
    column per level, referencing only materialized columns of the
    level below — keeps every engine's planner linear): prefix-DP
    best_0..best_12 padded past the word length, then the
    longest-first Viterbi walk l_k/piece_k/pos_k."""
    lk = lambda start, l: f"m[substr(w, {start}, {l})][1]"  # noqa: E731
    inner = (f"SELECT w, freq, length(w) AS n, m, "
             f"CAST(0 AS BIGINT) AS best_0 FROM {words}, {cmap}")
    for i in range(1, _UNI_MAXW + 1):
        cands = [f"best_{i - 1} + {lk(i, 1)}"]
        for l in range(2, _UNI_MAXP + 1):
            if l <= i:
                cands.append(f"best_{i - l} + {lk(i - l + 1, l)}")
        inner = (f"SELECT *, CASE WHEN {i} > n THEN best_{i - 1} "
                 f"ELSE least({', '.join(cands)}) END AS best_{i} "
                 f"FROM ({inner})")
    barr = ("list_value(" + ", ".join(f"best_{i}" for i in range(_UNI_MAXW + 1))
            + ")")
    inner = (f"SELECT w, freq, n, m, {barr} AS barr, n AS pos_0 "
             f"FROM ({inner})")
    for k in range(1, _UNI_MAXW + 1):
        p = f"pos_{k - 1}"
        whens = []
        for l in range(_UNI_MAXP, 1, -1):
            whens.append(
                f"WHEN {p} >= {l} AND barr[{p} - {l - 1}] "
                f"+ m[substr(w, {p} - {l - 1}, {l})][1] "
                f"= barr[{p} + 1] THEN {l}"
            )
        inner = (f"SELECT *, CASE WHEN {p} <= 0 THEN 0 ELSE "
                 f"CASE {' '.join(whens)} ELSE 1 END END AS l_{k} "
                 f"FROM ({inner})")
        inner = (f"SELECT *, CASE WHEN l_{k} > 0 THEN substr(w, "
                 f"{p} - l_{k} + 1, l_{k}) END AS piece_{k}, "
                 f"{p} - l_{k} AS pos_{k} FROM ({inner})")
    pieces = ", ".join(f"piece_{k}" for k in range(1, _UNI_MAXW + 1))
    return f"""
{tag} AS (
  SELECT w, freq,
         list_filter(list_value({pieces}), x -> x IS NOT NULL)
           AS pieces
  FROM ({inner})
)"""




def _unigram_oracle() -> str:
    return f"""
WITH wpd AS (
  SELECT doc_id, left(word, {_UNI_MAXW}) AS w, count(*) AS m FROM (
    SELECT doc_id, unnest(
      string_split_regex(trim(lower(text)), '\\s+')) AS word
    FROM documents
  ) WHERE length(word) > 0 GROUP BY 1, 2
),
wfreq AS (
  SELECT w, CAST(sum(m) AS BIGINT) AS freq FROM wpd GROUP BY 1
),
pf AS (
  SELECT substr(w, i, l) AS p, CAST(sum(freq) AS BIGINT) AS f
  FROM wfreq,
       UNNEST(range(1, length(w) + 1)) AS u(i),
       UNNEST(range(1, {_UNI_MAXP + 1})) AS v(l)
  WHERE i + l - 1 <= length(w)
  GROUP BY 1
),
vocab0 AS (
  SELECT p, f FROM pf WHERE length(p) = 1
  UNION ALL
  SELECT p, f FROM (
    SELECT p, f, row_number() OVER (ORDER BY f DESC, p) AS rk
    FROM pf WHERE length(p) > 1
  ) WHERE rk <= {_UNI_V}
),
costs0 AS (
  SELECT p, CAST((40 - length(bin(f))) * 8 + (4 - length(p))
                 AS BIGINT) AS c
  FROM vocab0
),
cm0 AS (
  SELECT map(list(p ORDER BY p), list(c ORDER BY p)) AS m FROM costs0
),{_uni_estep("e1", "wfreq", "cm0")},
usage AS (
  SELECT piece AS p, CAST(sum(freq) AS BIGINT) AS f
  FROM (SELECT freq, unnest(pieces) AS piece FROM e1)
  GROUP BY 1
),
vocab1 AS (
  SELECT v.p, coalesce(u.f, 0) AS f
  FROM vocab0 v LEFT JOIN usage u USING (p)
  WHERE length(v.p) = 1 OR coalesce(u.f, 0) >= 1
),
costs1 AS (
  SELECT p, CAST((40 - length(bin(f))) * 8 + (4 - length(p))
                 AS BIGINT) AS c
  FROM vocab1
),
cm1 AS (
  SELECT map(list(p ORDER BY p), list(c ORDER BY p)) AS m FROM costs1
),{_uni_estep("e2", "wfreq", "cm1")},
wt AS (
  SELECT w, CAST(len(pieces) AS BIGINT) AS n_tok FROM e2
)
SELECT wpd.doc_id,
       CAST(sum(wpd.m) AS BIGINT) AS n_words,
       CAST(sum(wpd.m * wt.n_tok) AS BIGINT) AS n_tokens
FROM wpd JOIN wt USING (w)
GROUP BY wpd.doc_id
"""


def q_text_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORDPIECE ENCODE (operators/text.wordpiece_token_counts —
    Devlin et al. 2018 greedy longest-match-first with '##'
    continuation pieces) under a corpus-derived vocabulary: all
    word-initial + continuation chars (guaranteed fallback) plus the
    top-64 multi-char pieces. Per-doc (n_words, n_tokens). The walk
    is one JVM fold per distinct word; the oracle unrolls the same
    greedy walk as nested subquery levels."""
    return TX.wordpiece_token_counts(_t(spark, sf_dir, "documents"))


def q_text_unigram_vocab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UNIGRAM-LM VOCABULARY ARTIFACT (operators/text.
    unigram_lm_vocab): the post-M-step piece table — (piece, usage,
    cost) — that a tokenizer-training pipeline persists; same
    training plan as text_unigram_lm via the shared
    _unigram_train."""
    return TX.unigram_lm_vocab(_t(spark, sf_dir, "documents"))


def _unigram_vocab_oracle() -> str:
    """The unigram oracle's WITH-chain truncated after the M-step
    vocabulary (everything before the round-2 cost map), projected
    as the artifact table — guaranteed identical training rules."""
    full = _unigram_oracle()
    head = full[:full.rindex(",\ncm1 AS (")]
    return head + """
SELECT p AS piece, CAST(f AS BIGINT) AS usage,
       CAST((40 - length(bin(f))) * 8 + (4 - length(p)) AS BIGINT)
         AS cost
FROM vocab1
"""


def _wordpiece_oracle() -> str:
    """Unrolled greedy longest-match walk: pos_0 = 0; step k picks
    the longest vocab piece at pos (word-initial raw at pos 0,
    '##'-prefixed after), consuming length − 2 for every non-FIRST
    step (the synthetic prefix, counted by emission order exactly as
    the Spark fold does)."""
    inner = ("SELECT w, length(w) AS n, m, CAST(0 AS BIGINT) AS pos_0"
             " FROM wfreq, vm")
    for k in range(1, _UNI_MAXW + 1):
        p = f"pos_{k - 1}"
        cands = []
        for l in range(_UNI_MAXP, 0, -1):
            key = (f"CASE WHEN {p} = 0 THEN substr(w, {p} + 1, {l}) "
                   f"ELSE '##' || substr(w, {p} + 1, {l}) END")
            cands.append(
                f"CASE WHEN {p} + {l} <= n AND m[{key}][1] IS NOT "
                f"NULL THEN {key} END"
            )
        inner = (f"SELECT *, CASE WHEN {p} >= n THEN NULL ELSE "
                 f"coalesce({', '.join(cands)}) END AS piece_{k} "
                 f"FROM ({inner})")
        sub = "2" if k > 1 else "0"
        inner = (f"SELECT *, {p} + CASE WHEN piece_{k} IS NULL THEN 0 "
                 f"ELSE length(piece_{k}) - {sub} END AS pos_{k} "
                 f"FROM ({inner})")
    counted = " + ".join(
        f"CASE WHEN piece_{k} IS NOT NULL THEN 1 ELSE 0 END"
        for k in range(1, _UNI_MAXW + 1)
    )
    return f"""
WITH wpd AS (
  SELECT doc_id, left(word, {_UNI_MAXW}) AS w, count(*) AS m FROM (
    SELECT doc_id, unnest(
      string_split_regex(trim(lower(text)), '\\s+')) AS word
    FROM documents
  ) WHERE length(word) > 0 GROUP BY 1, 2
),
wfreq AS (
  SELECT w, CAST(sum(m) AS BIGINT) AS freq FROM wpd GROUP BY 1
),
pf AS (
  SELECT CASE WHEN i = 1 THEN substr(w, i, l)
              ELSE '##' || substr(w, i, l) END AS p,
         CAST(sum(freq) AS BIGINT) AS f
  FROM wfreq,
       UNNEST(range(1, length(w) + 1)) AS u(i),
       UNNEST(range(1, {_UNI_MAXP + 1})) AS v(l)
  WHERE i + l - 1 <= length(w)
  GROUP BY 1
),
vocab AS (
  SELECT p FROM pf
  WHERE length(p) - CASE WHEN p LIKE '##%' THEN 2 ELSE 0 END = 1
  UNION ALL
  SELECT p FROM (
    SELECT p, row_number() OVER (ORDER BY f DESC, p) AS rk
    FROM pf
    WHERE length(p) - CASE WHEN p LIKE '##%' THEN 2 ELSE 0 END > 1
  ) WHERE rk <= {_UNI_V}
),
vm AS (
  SELECT map(list(p ORDER BY p),
             list(CAST(1 AS BIGINT) ORDER BY p)) AS m
  FROM vocab
),
wt AS (
  SELECT w, CAST({counted} AS BIGINT) AS n_tok FROM ({inner})
)
SELECT wpd.doc_id,
       CAST(sum(wpd.m) AS BIGINT) AS n_words,
       CAST(sum(wpd.m * wt.n_tok) AS BIGINT) AS n_tokens
FROM wpd JOIN wt USING (w)
GROUP BY wpd.doc_id
"""


def _bpe_encode_oracle(k: int) -> str:
    rounds = []
    for i in range(1, k + 1):
        prev = f"v{i - 1}"
        rounds.append(f"""
p{i} AS (
  SELECT t[i] AS l, t[i + 1] AS r,
         CAST(sum(freq) AS BIGINT) AS pair_count
  FROM (SELECT string_split(trim(rep), ' ') AS t, freq FROM {prev}),
       UNNEST(range(1, len(t))) AS u(i)
  GROUP BY 1, 2
),
b{i} AS (
  -- sentinel loser keeps the winner at exactly one row when no
  -- pairs remain (mirrors the Spark side's empty-round guard)
  SELECT l, r, l || r AS merged FROM (
    SELECT l, r, pair_count FROM p{i}
    UNION ALL SELECT chr(2), chr(2), -1
  ) ORDER BY pair_count DESC, l, r LIMIT 1
),
v{i} AS (
  -- true-greedy merge apply via space-doubling (mirrors the Spark
  -- side's _greedy_merge_rep)
  SELECT w, replace(replace(replace(rep, ' ', '  '),
           ' ' || (SELECT l FROM b{i}) || '  '
               || (SELECT r FROM b{i}) || ' ',
           ' ' || (SELECT merged FROM b{i}) || ' '),
           '  ', ' ') AS rep, freq
  FROM {prev}
)""")
    return f"""
WITH wpd AS (
  SELECT doc_id, word AS w, count(*) AS m FROM (
    SELECT doc_id, unnest(
      string_split_regex(trim(lower(text)), '\\s+')) AS word
    FROM documents
  ) WHERE length(word) > 0 GROUP BY 1, 2
),
v0 AS (
  SELECT w,
         ' ' || array_to_string(string_split_regex(w, ''), ' ')
           || ' ' AS rep,
         CAST(sum(m) AS BIGINT) AS freq
  FROM wpd GROUP BY 1
),{",".join(rounds)},
wt AS (
  SELECT w, CAST(len(string_split(trim(rep), ' ')) AS BIGINT)
           AS n_tok
  FROM v{k}
)
SELECT wpd.doc_id,
       CAST(sum(wpd.m) AS BIGINT) AS n_words,
       CAST(sum(wpd.m * wt.n_tok) AS BIGINT) AS n_tokens
FROM wpd JOIN wt USING (w)
GROUP BY wpd.doc_id
"""


def q_pipeline_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END per-user feature-store build (operators/events.
    user_feature_table): activity aggregates + session count +
    debounced-interaction count FUSED into one scan and two shuffles
    — the feature-engineering counterpart of
    ``pipeline_corpus_build``. The naive composition (session_agg +
    debounce + three joins) computes the same answer in three scans
    and five hash exchanges; the fusion expresses both derived
    counts as window flags folded into the single per-user
    aggregate (plan-pinned in tests/test_plans.py)."""
    return E.user_feature_table(_events(spark, sf_dir))


# ---- TPC-H tail, round 7: the remaining distinctive plan shapes,
# adapted to this star schema (no partsupp / commitdate / shipmode /
# container columns — each docstring names the substitution). The
# same SQL text runs on Spark and DuckDB; money totals that gate a
# comparison or land in a one-row output use exact per-row cents
# (round(x*100) BIGINT) so no float summation order can flip them.

_SQL_Q9 = """
    SELECT nation, o_year,
           CAST(SUM(amount_cents) AS BIGINT) AS profit_cents
    FROM (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT)
               - CAST(round(p.p_retailprice * l.l_quantity * 10)
                      AS BIGINT) AS amount_cents
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%ol%'
    ) profit
    GROUP BY nation, o_year
"""


def q_sql_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped (product-type profit by nation and year; the
    supply-cost term is adapted to ``p_retailprice·quantity·0.1``
    since this schema has no partsupp, and profit accumulates in
    exact per-row cents — float summation order flipped the rounded
    cent at sf0.01): five-table join where every dim broadcasts, the
    LIKE filter prunes part before the join, and lineitem shuffles
    once for the (nation, year) rollup."""
    for t in ("part", "lineitem", "supplier", "orders", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_Q9)


# Oracle-side formulation: the literal scalar-subqueries-in-HAVING
# SQL (DuckDB recomputes the globals from lineitem independently, so
# the Spark side's derive-from-the-grouped-frame rewrite is genuinely
# cross-checked).
_SQL_Q11 = """
    SELECT l_partkey,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                               * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM lineitem
    GROUP BY l_partkey
    HAVING CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                               * 100) AS BIGINT)) AS DECIMAL(38, 0))
           * (SELECT count(DISTINCT l_partkey) FROM lineitem) * 5 > (
      SELECT CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                                 * 100) AS BIGINT)) AS DECIMAL(38, 0))
      FROM lineitem
    ) * 6
"""

_SQL_Q11_GROUPED = """
    SELECT l_partkey,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                               * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM lineitem
    GROUP BY l_partkey
"""

# gate expressed as DataFrame ops on the checkpointed grouped frame
# (r17, ADVICE): the previous q11_grouped temp view was a
# session-global side effect a concurrent build could clobber between
# registration and spark.sql() analysis; DataFrame composition binds
# the frame directly. Same analyzed expressions:
#   count(l_partkey), SUM(CAST(value_cents AS DECIMAL(38,0))),
#   CAST(value_cents AS DECIMAL(38,0)) * n_parts * 5 > total_cents * 6


def q_sql_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped (important stock, adapted to lineitem revenue
    share since this schema has no partsupp): grouped totals gated by
    1-row global aggregates. r16: the original HAVING's two scalar
    subqueries each rescanned lineitem (3 lineitem scans in the
    plan); both globals are exact functions of the grouped frame
    itself — count of groups ≡ count(DISTINCT l_partkey) (partkey is
    non-null; count(l_partkey) over the group rows preserves the
    NULL-skipping semantics) and the DECIMAL(38,0) sum of group sums
    ≡ the global sum (integer cents, no overflow at DECIMAL(38)) —
    so the grouped frame is lazily materialized once and the gate
    reads IT. One lineitem pass instead of three; the DuckDB oracle
    keeps the literal scalar-subquery HAVING and the results are
    row-identical. The "important" test is SCALE-FREE (a part
    matters if its revenue exceeds 1.2× the mean part's — Q11's
    fixed 0.01% of total would pass everything at SF 0.001 and
    nothing at SF 100) and exact: cents cross-multiplied in
    DECIMAL(38,0), ``5·group·n > 6·total``, so neither float
    summation order nor BIGINT overflow can flip a borderline group
    at any supported scale."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    g = spark.sql(_SQL_Q11_GROUPED).transform(GPF.ckpt_lazy)
    s = g.agg(
        F.count("l_partkey").alias("n_parts"),
        F.sum(F.col("value_cents").cast("decimal(38,0)")).alias(
            "total_cents"
        ),
    )
    return (
        g.crossJoin(s)
        .where(
            F.col("value_cents").cast("decimal(38,0)")
            * F.col("n_parts")
            * 5
            > F.col("total_cents") * 6
        )
        .select("l_partkey", "value_cents")
    )


_SQL_Q15 = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                                 * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_cents
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_cents = (SELECT max(total_cents) FROM revenue)
"""


# Spark-side split of Q15 (r16): Spark inlines a CTE per reference,
# so the twice-referenced revenue CTE aggregated the quarter's
# lineitem TWICE; the |suppliers|-sized revenue frame is lazily
# materialized once and both consumers (dim join + scalar max) read
# it. The oracle keeps the literal twice-referenced CTE above.
_SQL_Q15_REVENUE = """
    SELECT l_suppkey AS supplier_no,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                               * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
"""

def q_sql_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): a quarter's per-supplier revenue CTE
    referenced twice — once joined to the dim, once reduced to a
    scalar max — with the winner selected by exact-cents equality
    (ties surface as multiple rows instead of an arbitrary pick).
    r16: the revenue frame is computed ONCE (lazy localCheckpoint)
    instead of per CTE reference — lineitem passes 2 → 1; the DuckDB
    oracle keeps the literal twice-referenced CTE. r17 (ADVICE): the
    gate composes DataFrame ops on the checkpointed frame directly —
    the previous q15_revenue temp view was a session-global side
    effect a concurrent build could clobber. The scalar-max subquery
    becomes the same 1-row cross join + equality the analyzer
    produced for it (max over an empty quarter is NULL ⇒ no rows,
    unchanged)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    rev = spark.sql(_SQL_Q15_REVENUE).transform(GPF.ckpt_lazy)
    mx = rev.agg(F.max("total_cents").alias("_mx"))
    sup = _t(spark, sf_dir, "supplier")
    return (
        sup.join(rev, sup["s_suppkey"] == rev["supplier_no"])
        .crossJoin(mx)
        .where(F.col("total_cents") == F.col("_mx"))
        .select("s_suppkey", "s_name", "total_cents")
    )


_SQL_Q21 = """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1
        FROM lineitem l3
        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY s.s_name
"""


def q_sql_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped (suppliers who kept orders waiting; "late" is
    adapted to shipped >30 days after the order date since this
    schema has no commit/receipt dates). The oracle keeps the literal
    EXISTS/NOT EXISTS formulation (`_SQL_Q21`); the Spark side
    computes the same result as ONE pass over the per-order supplier
    groups (r16): the semi join ("another supplier ships in this
    order") is `count(*) >= 2` over the (orderkey, suppkey) groups,
    and the anti join ("no OTHER supplier is late") is "exactly one
    late supplier in the order, and it is this one". That turns two
    additional orderkey-keyed passes over lineitem (the EXISTS semi +
    NOT EXISTS anti self-joins, each its own corpus-scale exchange)
    into window counts over the one exchange the orders join already
    establishes — lineitem shuffles once, total.

    Equivalence: orderkeys are unique in `orders`, so every lineitem
    row of an 'F' order survives the inner join exactly once and the
    subqueries' scope (all lineitem rows of l1's order) equals the
    window's partition; a qualifying l1 row is a LATE row of the
    order's single late supplier in a ≥2-supplier order, so
    count(*) per s_name ≡ sum of that supplier's late-row count.
    Proven row-identical against the DuckDB oracle at sf0.001/sf0.01."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    flagged = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.expr("o_orderdate + INTERVAL 30 DAY")
        ).alias("_late"),
    )
    # one row per (order, supplier): late-row count + any-late flag.
    # The orderkey partitioning established for the orders join (or
    # by this aggregate's own exchange when the dim broadcasts)
    # satisfies both the group-by and the window below — no further
    # lineitem-scale exchange.
    per_supp = flagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("_late"), 1).otherwise(0)).alias(
            "_late_rows"
        ),
        F.max("_late").alias("_any_late"),
    )
    w = Window.partitionBy("l_orderkey")
    waiting = per_supp.select(
        "l_suppkey",
        "_late_rows",
        "_any_late",
        F.count(F.lit(1)).over(w).alias("_n_supp"),
        F.sum(
            F.when(F.col("_any_late"), 1).otherwise(0)
        ).over(w).alias("_n_late_supp"),
    ).where(
        F.col("_any_late")
        & (F.col("_n_supp") >= 2)
        & (F.col("_n_late_supp") == 1)
    )
    return (
        waiting.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("_late_rows").cast("long").alias("numwait"))
    )


# Deterministic HTML wrapper for the strip_html lane: real tag soup
# (attributes, a style block, a script whose body contains '<', '&&'
# and a fake closing '</p>' tag) around fixture-derived text, plus
# every entity the decoder handles — including the '&amp;amp;'
# double-encode trap, which must come out as the literal '&amp;'.
_HTML_HEAD = (
    '<html><head><style type="text/css">p { color: red; }</style>'
    '</head><body><h1 class="title">'
)
_HTML_MID = (
    " &amp;amp; 1 &lt; 2 &gt; 0, &quot;q&quot; &#39;s&nbsp;end</p>"
    '<script type="text/javascript">var x = 1 < 2 && "</p>";</script>'
    "<p>tail "
)


def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter, fastText shape (operators/text.
    linear_quality_score): hashing-trick features → sparse integer
    dot with a deterministic milli-unit weight vector → sigmoid →
    keep. The keep decision is exact integer arithmetic (logit_milli
    > 0); only the reported sigmoid floats (round 4). Production
    swaps hash-derived weights for learned ones broadcast as a tiny
    frame — same plan."""
    return TX.linear_quality_score(_t(spark, sf_dir, "documents"))


def q_pipeline_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END web-curation pipeline — the composed flagship of
    the round-8 text lanes, each stage a proven operator: raw HTML
    (deterministically wrapped fixture text) → strip_html →
    gopher_quality_gates → linear_quality_score → exact dedup
    (min-id per cleaned text) → per-source funnel report
    (docs → gate-kept → classifier-kept → post-dedup, with kept word
    volume). One scan feeds every stage; the only exchanges are the
    dedup group-by and the final per-source rollup."""
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_HEAD),
        F.col("source"),
        F.lit('</h1><p id="b">'),
        F.col("text"),
        F.lit(_HTML_MID),
        F.col("lang"),
        F.lit("</p></body></html>"),
    )
    cleaned = TX.strip_html(
        docs.select("doc_id", "source", html.alias("html"))
    ).select("doc_id", "source", F.col("clean_text").alias("text"))
    # four INDEPENDENT consumers (gates, classifier, dedup group-by,
    # the final join spine) — eager materialization, per the SCALE.md
    # consumer-topology rule: lazy only dedupes sequential consumers
    cleaned = cleaned.transform(GPF.ckpt_eager)
    gates = TX.gopher_quality_gates(cleaned).select(
        "doc_id", F.col("keep").alias("g_keep"), "n_words"
    )
    clf = TX.linear_quality_score(cleaned).select(
        "doc_id", F.col("keep").alias("c_keep")
    )
    keeper = cleaned.groupBy("text").agg(F.min("doc_id").alias("_keep_id"))
    staged = (
        cleaned.join(gates, "doc_id")
        .join(clf, "doc_id")
        .join(keeper, "text")
        .withColumn("_is_keeper", F.col("doc_id") == F.col("_keep_id"))
    )
    final_keep = F.col("g_keep") & F.col("c_keep") & F.col("_is_keeper")
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("g_keep").cast("long")).alias("n_gate_kept"),
        F.sum((F.col("g_keep") & F.col("c_keep")).cast("long")).alias(
            "n_quality_kept"
        ),
        F.sum(final_keep.cast("long")).alias("n_final"),
        F.sum(
            F.when(final_keep, F.col("n_words")).otherwise(F.lit(0))
        ).alias("kept_words"),
    )


def q_text_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup (operators/text.
    canonicalize_urls): messy URLs constructed deterministically —
    uppercase scheme/host, a default :443 port on the even rows and a
    real :8080 on the odd ones, utm/fbclid tracking params, unsorted
    query order, fragments — normalize to a canonical key, then the
    dedup rollup groups on it (doc_id % 40 collides by construction).
    The oracle regenerates the canonical form straight from the
    generative rule, so every normalization step is value-checked."""
    docs = _t(spark, sf_dir, "documents")
    messy = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("HTTPS://"),
            F.upper(F.col("source")),
            F.lit(".Example.COM:443/docs/"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit("?utm_source=x&b="),
            F.col("lang"),
            F.lit("&a=1#frag"),
        ),
    ).otherwise(
        F.concat(
            F.lit("http://"),
            F.upper(F.col("source")),
            F.lit(".Example.COM:8080/docs/"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit("?fbclid=zzz&b="),
            F.col("lang"),
            F.lit("&a=1"),
        ),
    )
    canon = TX.canonicalize_urls(
        docs.select("doc_id", messy.alias("url"))
    )
    return canon.groupBy("canon_url").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("doc_id").alias("keep_id"),
    )


def q_text_html_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate extraction (operators/text.strip_html): drop
    script/style blocks, strip tags, decode the six standard
    entities (&amp; last — the double-decode trap), collapse
    whitespace. The HTML is constructed deterministically from
    (source, text, lang) so the oracle re-runs the identical
    generative rule + cleaning chain; the cleaner is the system
    under test. Narrow regexp map — zero UDFs, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_HEAD),
        F.col("source"),
        F.lit('</h1><p id="b">'),
        F.substring(F.col("text"), 1, 120),
        F.lit(_HTML_MID),
        F.col("lang"),
        F.lit("</p></body></html>"),
    )
    cleaned = TX.strip_html(docs.select("doc_id", html.alias("html")))
    return cleaned.select(
        "doc_id",
        "clean_text",
        F.length("clean_text").cast("long").alias("clean_chars"),
    )


def q_text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization (operators/text.
    with_nfc_normalized — Arrow-batched pandas UDF over stdlib
    unicodedata; Spark has no built-in normalizer, so this is the
    legitimate Python lane). Input is fixture text wrapped in
    combining-mark sequences (e+U+0301, i/u+U+0308) that NFC must
    fuse to precomposed é/ï/ü — the char counts shrink by exactly
    the fused marks, which the oracle (DuckDB nfc_normalize)
    verifies value-for-value."""
    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("Café naïve "),  # decomposed marks
        F.substring(F.col("text"), 1, 80),
        F.lit(" über"),
    )
    out = TX.with_nfc_normalized(docs.select("doc_id", raw.alias("text")))
    return out.select(
        "doc_id",
        "nfc_text",
        F.length("text").cast("long").alias("raw_chars"),
        F.length("nfc_text").cast("long").alias("nfc_chars"),
    )


# Fixed multi-line tail appended to every document so the line-level
# Gopher rules (bullet / ellipsis / duplicate-line fractions) see real
# line structure; the fixture text itself is single-line.
_GOPHER_TAIL = "\n- bullet point\nline with tail...\ndup line\ndup line"


def q_text_gopher_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document filtering (operators/text.
    gopher_quality_gates): word-count bounds, mean-word-length
    bounds, alpha-word fraction, ellipsis/bullet line fractions,
    duplicate-line fraction — all keep/drop decisions as exact
    integer cross-products, one higher-order-function pass, zero
    shuffle."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(_GOPHER_TAIL)).alias("text"),
    )
    return TX.gopher_quality_gates(docs)


def q_sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (operators/similarity.mmr_rerank):
    greedy λ·rel − (1−λ)·max-sim selection of 5 from each query's
    exact top-20, with relevance AND pairwise similarity as integer
    1/10000-cosine units and λ = 7/10 as an integer pair — the pick
    sequence is exact integer arithmetic (n_id tiebreak), so the
    oracle's unrolled 5-step SQL replay reproduces it bit-for-bit.
    Pairwise sims are Spark-side (pool² per query by construction);
    the Python stage is pure integer greedy over ≤20 rows/query."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.mmr_rerank(emb, emb.where("vec_id < 8"), k=5, pool=20)


def q_snap_hidden_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style HIDDEN partitioning (snaptable partition
    transforms): orders laid out by ``bucket(16, o_custkey)`` — a
    DERIVED hash bucket the query never mentions — while the point
    query filters the RAW customer key; pruning maps the probe
    through the same transform (with the declared-dtype cast:
    xxhash64(int) != xxhash64(long)) and must scan exactly ONE of the
    16 bucket files, which the entry asserts. Leaf files keep every
    data column, so reads need no basePath reconstruction."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_hp"), "t")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    T.write_table(
        orders, out, "create",
        partition_by=("bucket(16,o_custkey)",), target_files=1,
    )
    total, scanned = T.partition_scan_stats(spark, out, {"o_custkey": 42})
    if not (total == 16 and scanned == 1):
        raise RuntimeError(
            f"hidden-bucket pruning broken: scanned {scanned}/{total}"
        )
    return T.read_partition(spark, out, {"o_custkey": 42}).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )


def q_snap_meta_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregates (snaptable.meta_row_count +
    resolve_as_of): count(*) per version answered from manifest row
    counts alone — ZERO data files opened, the catalog-speed path a
    100 TB table answers audits by. The as-of-timestamp resolver is
    exercised against each manifest's own commit stamp (version v
    must resolve from its recorded ts_ms); the oracle recomputes the
    same counts by scanning the base table."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_mc"), "t")
    orders = _t(spark, sf_dir, "orders")
    T.write_table(
        orders.where("o_orderkey % 3 = 0"), out, "create", target_files=1
    )
    T.write_table(
        orders.where("o_orderkey % 3 != 0"), out, "append", target_files=1
    )
    rows = []
    fs, P = T._hadoop_fs(spark, out)
    for v in (0, 1):
        m = T._manifest(spark, fs, P, out, v)
        if T.resolve_as_of(spark, out, int(m["ts_ms"])) != v:
            raise RuntimeError(f"as-of resolution broken for v{v}")
        rows.append((v, T.meta_row_count(spark, out, version=v)))
    return spark.createDataFrame(rows, "version long, n_rows long")


def q_snap_compact_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-style re-clustering compaction (snaptable.compact
    sort_by): orders land hash-scattered (every file spans the full
    key range — manifest stats pruning inert, scanned == total, which
    the entry asserts), then ONE maintenance pass range-sorts the
    rewrite so the refreshed per-file min/max actually discriminate
    — the entry raises unless the same range read afterwards scans
    STRICTLY fewer files. Returns the pruned range's rows (value
    parity with the base table)."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_cc"), "t")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # hash-scatter: round-robin repartition, every file ~full range
    T.write_table(
        orders.repartition(8), out, "create", stats_cols=("o_orderkey",)
    )
    lo, hi = 1000, 2000
    total0, scanned0 = T.scan_stats(spark, out, "o_orderkey", lo, hi)
    if scanned0 != total0:
        raise RuntimeError(
            f"expected inert pruning pre-compaction: {scanned0}/{total0}"
        )
    T.compact(spark, out, target_files=8, sort_by=("o_orderkey",))
    total1, scanned1 = T.scan_stats(spark, out, "o_orderkey", lo, hi)
    if not scanned1 < total1:
        raise RuntimeError(
            f"re-cluster did not enable pruning: {scanned1}/{total1}"
        )
    got = T.read_range(spark, out, "o_orderkey", lo, hi)
    return got.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )


def q_snap_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned snapshot table (snaptable.write_table
    partition_by + read_partition): documents committed partitioned
    by ``lang`` across TWO commits (create + append — the read is a
    per-token basePath union, one scan per commit, O(commits) plan),
    then a one-partition read that must prune files DRIVER-SIDE from
    the manifest's recorded partition values — the entry raises
    unless files_scanned < files_total. Result: the 'en' rows
    themselves (value-level parity with the base table)."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_pt"), "t")
    docs = _t(spark, sf_dir, "documents")
    T.write_table(
        docs.where("doc_id % 2 = 0"),
        out,
        "create",
        stats_cols=("doc_id",),
        partition_by=("lang",),
        target_files=1,
    )
    T.write_table(docs.where("doc_id % 2 = 1"), out, "append", target_files=1)
    total, scanned = T.partition_scan_stats(spark, out, {"lang": "en"})
    if not scanned < total:
        raise RuntimeError(
            f"partition pruning inert: scanned {scanned} of {total}"
        )
    return T.read_partition(spark, out, {"lang": "en"}).select(
        "doc_id", "lang", "source", "n_chars"
    )


def q_snap_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC batch apply (snaptable.apply_cdc — MERGE … WHEN MATCHED
    DELETE): one change batch carrying upserts (rename every
    ``% 5 = 0, % 7 != 3`` nation), deletes (every ``% 7 = 3`` key)
    and inserts (shifted-key copies of keys < 3) lands in ONE
    file-level copy-on-write pass. Returns the final table; the
    oracle rebuilds the same end state set-algebraically."""
    from geniepool_etl_spark import snaptable as T

    out = os.path.join(_tmpdir("snap_cdc"), "t")
    nation = _t(spark, sf_dir, "nation")
    T.write_table(
        nation.repartitionByRange(4, "n_nationkey"),
        out,
        "create",
        stats_cols=("n_nationkey",),
    )
    ups = (
        nation.where("n_nationkey % 5 = 0 AND n_nationkey % 7 != 3")
        .withColumn("n_name", F.concat(F.lit("cdc-"), F.col("n_name")))
        .withColumn("_op", F.lit("upsert"))
    )
    dels = nation.where("n_nationkey % 7 = 3").withColumn(
        "_op", F.lit("delete")
    )
    ins = nation.where("n_nationkey < 3").select(
        (F.col("n_nationkey") + F.lit(100)).alias("n_nationkey"),
        F.concat(F.lit("new-"), F.col("n_name")).alias("n_name"),
        "n_regionkey",
    ).withColumn("_op", F.lit("upsert"))
    T.apply_cdc(
        spark, out, ups.unionByName(dels).unionByName(ins), ["n_nationkey"]
    )
    return T.read_table(spark, out)


def q_events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid time-series densify + forward fill
    (operators/events.gap_fill_hourly): per sampled user, one row
    per hour between their first and last event; gap hours get
    zero counts and the last observed event type carried forward.
    Grid generation is per-user sequence() (no global calendar
    join); the fill window partitions by user_id."""
    return E.gap_fill_hourly(_events(spark, sf_dir))


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing over per-user hourly cents (operators/events.
    ewma_hourly, α=1/4): the irreducibly-sequential recurrence runs
    as a per-user in-row fold over a sorted bounded array (users
    parallelize; no window, no UDF); exact-binary α and identical
    IEEE evaluation order make the oracle's recursive CTE reproduce
    the sequence bit-for-bit (outputs still round to 4)."""
    return E.ewma_hourly(_events(spark, sf_dir))


def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (operators/events.rfm_segments): per-user
    recency/frequency/monetary from one keyed aggregate, quartile
    thresholds from one global percentile() aggregate broadcast
    back, tiles in a narrow map — no unpartitioned ntile() window,
    the formulation that survives a billion users."""
    return E.rfm_segments(_events(spark, sf_dir))


_STOPWORDS_SQL = "[" + ", ".join(f"'{s}'" for s in TX.STOPWORDS) + "]"

# Event-time in µs, ENCODING-POLYMORPHIC on the oracle side: the
# driver has shipped events.ts as parquet TIMESTAMP, TIMESTAMP_NTZ,
# AND nanos-INT64 in different rounds (the Spark side adapts via
# functions.event_micros), so a static epoch_us(ts) would break every
# event oracle the round the encoding flips to LONG. The VARCHAR
# round-trip + TRY_CAST pair binds on any input type and picks the
# right branch per value: timestamps parse (offset included, so a
# TIMESTAMPTZ read under any session timezone still yields the same
# instant — verified), raw nanos fall through to integer // 1000.
_EVENT_US = (
    "COALESCE(epoch_us(TRY_CAST(CAST(ts AS VARCHAR) AS TIMESTAMP)), "
    "TRY_CAST(CAST(ts AS VARCHAR) AS BIGINT) // 1000)"
)


def _oracles() -> dict[str, str]:
    o: dict[str, str] = {}
    o["s11_lake_range_read"] = """
        SELECT concat('chr', CAST(o_orderkey % 5 AS VARCHAR)) AS chrom,
               CAST(o_orderkey * 37 AS BIGINT) AS pos,
               o_totalprice,
               CAST((o_orderkey * 37) // 100000 AS BIGINT) AS pos_bucket
        FROM orders
        WHERE o_orderkey % 5 = 2 AND o_orderkey * 37 BETWEEN 50000 AND 1200000
    """
    o["snap_time_travel"] = """
        WITH c AS (
          SELECT o_orderstatus AS s,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        )
        SELECT CAST(0 AS BIGINT) AS version, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM c WHERE s = 'F'
        UNION ALL
        SELECT CAST(1 AS BIGINT), count(*), CAST(sum(cents) AS BIGINT)
        FROM c WHERE s IN ('F', 'O')
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*), CAST(sum(cents) AS BIGINT)
        FROM c
    """
    o["snap_delete_cow"] = """
        SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
        FROM lineitem WHERE NOT (l_quantity > 40)
        GROUP BY l_returnflag
    """
    o["snap_delete_dv"] = """
        SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
        FROM lineitem
        WHERE NOT (l_quantity > 45)
          AND NOT (l_linenumber = 1 AND l_quantity > 20)
        GROUP BY l_returnflag
    """
    o["snap_range_skip"] = """
        SELECT count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM orders WHERE o_orderkey BETWEEN 100 AND 700
    """
    o["snap_schema_evolution"] = """
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_with_bal,
               CAST(sum(CASE WHEN c_custkey % 2 = 1 THEN
                        CAST(round(c_acctbal * 100) AS BIGINT) END)
                    AS BIGINT) AS sum_bal_cents
        FROM customer
    """
    o["snap_bloom_skip"] = """
        WITH b AS (
          SELECT (min(o_orderkey) + max(o_orderkey)) // 2 AS thr
          FROM orders
        ),
        p AS (
          SELECT min(o_orderkey) AS pk FROM orders, b
          WHERE o_orderkey >= b.thr
        )
        SELECT count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM orders, p WHERE o_orderkey = p.pk
    """
    o["snap_change_feed"] = """
        WITH c AS (
          SELECT o_orderkey AS k, o_orderstatus AS s,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ),
        feed AS (
          -- v1/v2 appends: inserts
          SELECT 1 AS v, 'insert' AS t, cents FROM c WHERE s = 'O'
          UNION ALL
          SELECT 2, 'insert', cents FROM c WHERE s = 'P'
          UNION ALL
          -- v3 delete_where(k % 10 < 2): exact net deletes
          SELECT 3, 'delete', cents FROM c WHERE k % 10 < 2
          UNION ALL
          -- v4 merge on keys k%10 IN (1,5): keys still live (%10=5)
          -- update (pre+post); keys deleted at v3 (%10=1) insert
          SELECT 4, 'update_preimage', cents FROM c WHERE k % 10 = 5
          UNION ALL
          SELECT 4, 'update_postimage', 4250 FROM c WHERE k % 10 = 5
          UNION ALL
          SELECT 4, 'insert', 4250 FROM c WHERE k % 10 = 1
        )
        SELECT CAST(v AS BIGINT) AS _commit_version,
               t AS _change_type,
               count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM feed GROUP BY v, t
    """
    o["snap_merge_upsert"] = """
        WITH base AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        ),
        merged AS (
          SELECT * FROM base WHERE o_orderkey % 7 != 3
          UNION ALL
          SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0
          FROM base WHERE o_orderkey % 7 = 3
          UNION ALL
          SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
          FROM base WHERE o_orderkey % 11 = 5
        )
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM merged GROUP BY o_orderstatus
    """
    o["snap_zorder_skip"] = """
        SELECT count(*) AS n,
               CAST(sum(l_orderkey % 1024) AS BIGINT) AS sum_za,
               sum(l_quantity) AS sum_qty
        FROM lineitem WHERE (l_partkey % 1024) BETWEEN 100 AND 163
    """
    o["snap_compact_zorder"] = """
        WITH li AS (
          SELECT l_orderkey % 1024 AS za, l_partkey % 1024 AS zb,
                 l_quantity
          FROM lineitem
        )
        SELECT 'za' AS axis, CAST(8 AS BIGINT) AS files_total,
               CAST(8 AS BIGINT) AS pre_scanned, TRUE AS post_skips,
               CAST(count(*) AS BIGINT) AS n_rows,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM li WHERE za BETWEEN 100 AND 163
        UNION ALL
        SELECT 'zb', CAST(8 AS BIGINT), CAST(8 AS BIGINT), TRUE,
               CAST(count(*) AS BIGINT), ROUND(SUM(l_quantity), 2)
        FROM li WHERE zb BETWEEN 100 AND 163
    """
    o["snap_compact_history"] = """
        WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nation)
        SELECT CAST(0 AS BIGINT) AS version, 'create' AS action,
               CAST(4 AS BIGINT) AS n_files, c AS n_rows FROM n
        UNION ALL
        SELECT CAST(1 AS BIGINT), 'append', CAST(5 AS BIGINT), 2 * c FROM n
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'compact', CAST(1 AS BIGINT), 2 * c FROM n
    """
    o["p8_keep_latest"] = f"""
        SELECT user_id, event_id, {_EVENT_US} AS ts_us, event_type
        FROM events
        QUALIFY row_number() OVER (
          PARTITION BY user_id
          ORDER BY {_EVENT_US} DESC, event_id DESC) = 1
    """
    o["j3_broadcast_join_agg"] = """
        SELECT p_brand, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """
    o["a2_two_level_nest"] = """
        WITH lvl1 AS (
          SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1
        )
        SELECT o_custkey,
               array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
               CAST(sum(coalesce(n_items, 0)) AS BIGINT) AS total_items
        FROM orders LEFT JOIN lvl1 ON o_orderkey = l_orderkey
        GROUP BY o_custkey
    """
    o["a4_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1999-12-31'
        GROUP BY l_returnflag, l_linestatus
    """
    o["a13_hll_sketch_rollup"] = """
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               true AS within_tol
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'ALL' AS event_type,
               count(DISTINCT user_id) AS exact_users,
               true AS within_tol
        FROM events
    """
    o["skew_salted_agg"] = """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 2) AS sum_l_quantity
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """
    o["w1_window_topk"] = """
        SELECT c_mktsegment,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
               o_orderkey, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
        QUALIFY rnk <= 3
    """
    o["w2_running_extrema"] = f"""
        SELECT user_id, event_id,
               count(*) OVER w AS run_n,
               round(max(value) OVER w, 4) AS run_max
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY {_EVENT_US}, event_id
                     ROWS UNBOUNDED PRECEDING)
    """
    o["w3_lag_gap"] = f"""
        SELECT event_id, user_id,
               lag(event_type) OVER w AS prev_type,
               {_EVENT_US} - lag({_EVENT_US}) OVER w AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY {_EVENT_US}, event_id)
    """
    o["events_tumbling"] = f"""
        SELECT {_EVENT_US} - {_EVENT_US} % 3600000000 AS w_start_us,
               event_type, count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """
    o["events_sliding"] = f"""
        SELECT ({_EVENT_US} - {_EVENT_US} % 1800000000) - off AS w_start_us,
               count(*) AS n_events, count(DISTINCT user_id) AS n_users
        FROM events, unnest([CAST(0 AS BIGINT), CAST(1800000000 AS BIGINT)]) t(off)
        GROUP BY 1
    """
    o["events_session"] = f"""
        WITH e AS (
          SELECT user_id, event_id, {_EVENT_US} AS t, value FROM events
        ),
        g AS (
          SELECT *, CASE WHEN lag(t) OVER w IS NULL
                           OR t - lag(t) OVER w > 1800000000
                         THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        ),
        s AS (
          SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM g
        )
        SELECT user_id, min(t) AS session_start_us, count(*) AS n_events,
               round(max(value), 4) AS max_value
        FROM s GROUP BY user_id, sid
    """
    o["events_asof_join"] = f"""
        WITH u AS (
          SELECT user_id, {_EVENT_US} AS t, 1 AS side, event_id
          FROM events WHERE event_type = 'purchase'
          UNION ALL
          SELECT user_id, {_EVENT_US} AS t, 0 AS side, event_id
          FROM events WHERE event_type = 'click'
        ),
        c AS (
          SELECT *,
                 max(CASE WHEN side = 0 THEN t END) OVER w AS asof_ts_us,
                 last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
                   OVER w AS asof_event_id
          FROM u
          WINDOW w AS (PARTITION BY user_id ORDER BY t, side, event_id
                       ROWS UNBOUNDED PRECEDING)
        )
        SELECT user_id, t AS ts_us, event_id, asof_ts_us, asof_event_id
        FROM c WHERE side = 1
    """
    o["events_anomaly"] = f"""
        WITH e AS (
          SELECT user_id, event_id, {_EVENT_US} AS t,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events
        ),
        w AS (
          SELECT user_id, event_id, c,
                 COUNT(c) OVER win AS n_prior,
                 COALESCE(SUM(c) OVER win, 0) AS s1,
                 COALESCE(SUM(c * c) OVER win, 0) AS s2
          FROM e
          WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        )
        SELECT user_id, event_id,
               CAST(n_prior AS BIGINT) AS n_prior,
               CASE WHEN n_prior >= 5 THEN
                 (c * n_prior - s1) * (c * n_prior - s1) * (n_prior - 1)
                   > 9 * n_prior * (n_prior * s2 - s1 * s1)
               END AS is_anomaly
        FROM w
    """
    o["events_interval_join"] = f"""
        WITH c AS (
          SELECT user_id, event_id AS id, {_EVENT_US} AS s,
                 {_EVENT_US} + 3600000000 AS e
          FROM events WHERE event_type = 'click'
        ),
        p AS (
          SELECT user_id, event_id AS id, {_EVENT_US} AS s,
                 {_EVENT_US} + 3600000000 AS e
          FROM events WHERE event_type = 'purchase'
        )
        SELECT c.user_id AS user_id, c.id AS click_id, p.id AS purchase_id,
               least(c.e, p.e) - greatest(c.s, p.s) AS overlap_us
        FROM c JOIN p
          ON c.user_id = p.user_id AND c.s <= p.e AND p.s <= c.e
    """
    o["s22_python_stream_source"] = """
        WITH r AS (
          SELECT gs AS event_id,
                 gs % 97 AS user_id,
                 (gs * 2654435761) % 1000000 AS value_cents
          FROM generate_series(0, 999) t(gs)
        )
        SELECT CAST(user_id % 7 AS BIGINT) AS bucket,
               count(*) AS n,
               CAST(sum(value_cents) AS BIGINT) AS sum_cents,
               CAST(max(event_id) AS BIGINT) AS max_event_id
        FROM r GROUP BY 1
    """
    o["s18_python_datasource"] = """
        WITH s AS (
          SELECT gs AS event_id FROM generate_series(0, 9999) t(gs)
        ),
        r AS (
          SELECT event_id,
                 event_id % 97 AS user_id,
                 (event_id * 2654435761) % 1000000 AS value_cents
          FROM s
        )
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(value_cents) / 100.0 AS DOUBLE) AS sum_value,
               MAX(event_id) AS max_event_id
        FROM r GROUP BY user_id
    """
    o["events_variant"] = """
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k,
               'OBJECT<k: BIGINT>' AS vschema
        FROM events
    """
    o["udtf_topk"] = """
        WITH r AS (
          SELECT user_id, event_id,
                 row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY round(value, 4) DESC, event_id
                 ) AS rnk
          FROM events
        )
        SELECT user_id, event_id, CAST(rnk AS INTEGER) AS rnk
        FROM r WHERE rnk <= 2
    """
    o["events_asof_tolerance"] = f"""
        WITH u AS (
          SELECT user_id, {_EVENT_US} AS t, 1 AS side, event_id
          FROM events WHERE event_type = 'purchase'
          UNION ALL
          SELECT user_id, {_EVENT_US} AS t, 0 AS side, event_id
          FROM events WHERE event_type = 'click'
        ),
        c AS (
          SELECT *,
                 max(CASE WHEN side = 0 THEN t END) OVER w AS asof_ts_us,
                 last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
                   OVER w AS asof_event_id
          FROM u
          WINDOW w AS (PARTITION BY user_id ORDER BY t, side, event_id
                       ROWS UNBOUNDED PRECEDING)
        )
        SELECT user_id, t AS ts_us, event_id,
               CASE WHEN t - asof_ts_us <= 1800000000
                    THEN asof_ts_us END AS asof_ts_us,
               CASE WHEN t - asof_ts_us <= 1800000000
                    THEN asof_event_id END AS asof_event_id
        FROM c WHERE side = 1
    """
    o["events_pivot"] = """
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click') AS click,
               count(*) FILTER (WHERE event_type = 'error') AS error,
               count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               count(*) FILTER (WHERE event_type = 'signup') AS signup,
               count(*) FILTER (WHERE event_type = 'view') AS view
        FROM events GROUP BY user_id
    """
    o["events_json_props"] = """
        SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
        FROM events
    """
    o["events_from_json"] = """
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k,
               CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
                 AS parsed_ok
        FROM events
    """
    o["stream_tumbling"] = f"""
        SELECT {_EVENT_US} - {_EVENT_US} % 3600000000 AS w_start_us,
               event_type, count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """
    # streaming sessionization equals the batch islands-and-gaps
    # answer once every session is watermark-closed
    o["stream_session"] = o["events_session"]
    o["stream_dedup"] = """
        SELECT event_id, user_id, event_type, value FROM events
    """
    o["stream_join"] = f"""
        WITH e AS (
          SELECT user_id, event_id, {_EVENT_US} AS us, event_type
          FROM events
        )
        SELECT p.user_id AS p_user, p.event_id AS purchase_id,
               c.event_id AS click_id, p.us AS purchase_us,
               c.us AS click_us
        FROM e p JOIN e c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.us <= p.us AND c.us >= p.us - 7200000000
    """
    o["stream_stateful"] = """
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY user_id
    """
    o["stream_ingest_idempotent"] = f"""
        SELECT CAST({_EVENT_US} // 86400000000 AS BIGINT) AS day_bucket,
               count(*) AS n_events,
               count(DISTINCT event_id) AS n_ids
        FROM events GROUP BY 1
    """
    o["dedup_exact_stats"] = f"""
        WITH d AS ({_DOCS_WITH_DUPS_SQL})
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
               count(*) AS n_dups
        FROM d GROUP BY md5(text)
    """
    o["dedup_exact_keep"] = f"""
        WITH d AS ({_DOCS_WITH_DUPS_SQL})
        SELECT min(doc_id) AS doc_id FROM d GROUP BY text
    """
    o["dedup_incremental"] = f"""
        WITH d AS ({_DOCS_WITH_DUPS_SQL}),
        c AS (SELECT DISTINCT md5(text) AS h FROM d WHERE doc_id < 400),
        n AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
              FROM d WHERE doc_id >= 400 GROUP BY md5(text))
        SELECT n.doc_id FROM n ANTI JOIN c USING (h)
    """
    o["dedup_jaccard_pairs"] = _jaccard_oracle()
    o["dedup_clusters"] = f"""
WITH RECURSIVE p AS ({_jaccard_oracle()}),
und AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM p
),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM und)
  UNION
  SELECT u.a, r.b FROM und u JOIN reach r ON u.b = r.a
)
SELECT a AS id, min(b) AS label FROM reach GROUP BY a
"""
    o["dedup_near_keep"] = f"""
WITH RECURSIVE p AS ({_jaccard_oracle()}),
und AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM p
),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM und)
  UNION
  SELECT u.a, r.b FROM und u JOIN reach r ON u.b = r.a
),
labels AS (SELECT a AS id, min(b) AS label FROM reach GROUP BY a)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM labels)
UNION ALL
SELECT min(id) AS doc_id FROM labels GROUP BY label
"""
    o["dedup_minhash_lsh"] = _minhash_oracle()
    o["pipeline_warc_corpus"] = _warc_corpus_oracle()
    o["dedup_simhash"] = _simhash_oracle()
    o["dedup_incremental_near"] = _incr_minhash_oracle()
    o["dedup_repeated_spans"] = f"""
        WITH {_WORDS_CTE.strip()},
        pg0 AS (
          SELECT doc_id AS id, w,
                 unnest(range(0, greatest(len(w) - 4, 0))) AS pos
          FROM words
        ),
        pg AS (
          SELECT id, pos, array_to_string(w[pos+1:pos+5], ' ') AS gram
          FROM pg0
        ),
        freq AS (
          SELECT gram FROM pg GROUP BY gram
          HAVING count(DISTINCT id) >= 2 AND count(*) <= 1000
        ),
        rep AS (SELECT p.id, p.pos FROM pg p SEMI JOIN freq f USING (gram)),
        isl AS (
          SELECT id, pos,
                 CASE WHEN lag(pos) OVER w IS NULL
                           OR pos - lag(pos) OVER w > 5
                      THEN 1 ELSE 0 END AS new_s
          FROM rep WINDOW w AS (PARTITION BY id ORDER BY pos)
        ),
        grp AS (
          SELECT id, pos, SUM(new_s) OVER (PARTITION BY id ORDER BY pos
                  ROWS UNBOUNDED PRECEDING) AS island
          FROM isl
        )
        SELECT id AS doc_id, CAST(min(pos) AS INT) AS span_start,
               CAST(max(pos) + 4 AS INT) AS span_end,
               CAST(count(*) AS BIGINT) AS n_grams
        FROM grp GROUP BY id, island
    """
    o["dedup_lsh_recall"] = f"""
WITH t AS ({_jaccard_oracle()}),
c AS ({_minhash_oracle()}),
tb AS (
  SELECT id_a, id_b, CAST(floor(jaccard * 10) AS BIGINT) AS j_bucket
  FROM t
)
SELECT tb.j_bucket, count(*) AS n_true,
       CAST(count(c.id_a) AS BIGINT) AS n_hit,
       round(count(c.id_a) / CAST(count(*) AS DOUBLE), 4) AS recall
FROM tb LEFT JOIN c ON tb.id_a = c.id_a AND tb.id_b = c.id_b
GROUP BY tb.j_bucket
"""
    o["text_stats"] = f"""
        WITH {_WORDS_CTE.strip()},
        st AS (
          SELECT w.doc_id, d.text, w.w,
                 len(w.w) AS n_words,
                 len(list_filter(w.w, x ->
                     list_contains({_STOPWORDS_SQL}, lower(x)))) AS stop_hits
          FROM words w JOIN documents d USING (doc_id)
        )
        SELECT doc_id,
               CAST(length(text) AS INT) AS n_chars_m,
               CAST(n_words AS INT) AS n_words,
               round(CASE WHEN n_words > 0 THEN
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(w, x -> CAST(length(x) AS BIGINT))),
                      (a, b) -> a + b) AS DOUBLE) / n_words
                 ELSE 0.0 END, 4) AS avg_word_len,
               round(CASE WHEN n_words > 0
                 THEN CAST(stop_hits AS DOUBLE) / n_words
                 ELSE 0.0 END, 4) AS stopword_ratio
        FROM st
    """
    o["text_tokens"] = rf"""
        WITH {_WORDS_CTE.strip()}
        SELECT w.doc_id,
               CAST(len(regexp_extract_all(d.text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_tokens,
               CAST(len(w.w) AS INT) AS n_ws_tokens
        FROM words w JOIN documents d USING (doc_id)
    """
    o["s17_fixed_width"] = """
        SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
               CAST(n_regionkey AS INT) AS n_regionkey
        FROM nation
    """
    o["shuffle_deterministic"] = f"""
        WITH h AS (
          SELECT doc_id, {portable_hash32_sql('doc_id', 17)} AS hv
          FROM documents
        )
        SELECT doc_id, CAST(hv % 8 AS INT) AS shard,
               CAST(row_number() OVER (PARTITION BY hv % 8
                                       ORDER BY hv, doc_id) AS INT) AS pos
        FROM h
    """
    o["text_chunk"] = r"""
        WITH d AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          FROM documents
          WHERE text IS NOT NULL AND length(trim(text)) > 0
        ),
        n AS (
          SELECT doc_id, w,
                 1 + CAST(ceil(greatest(len(w) - 64, 0) / 48.0) AS BIGINT)
                   AS nc
          FROM d
        ),
        c AS (
          SELECT doc_id, w, unnest(range(0, nc)) AS chunk_idx FROM n
        )
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               array_to_string(w[chunk_idx*48+1 : chunk_idx*48+64], ' ')
                 AS chunk_text,
               CAST(len(w[chunk_idx*48+1 : chunk_idx*48+64]) AS INT)
                 AS n_chunk_words
        FROM c
    """
    o["text_lang_id"] = _lang_id_oracle()
    o["text_ngram_topk"] = f"""
        WITH {_WORDS_CTE.strip()},
        grams AS (
          SELECT unnest(CASE WHEN len(w) >= 2
            THEN list_transform(range(1, len(w)),
                                i -> array_to_string(w[i:i+1], ' '))
            ELSE CAST([] AS VARCHAR[]) END) AS ngram
          FROM words
        )
        SELECT ngram, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, ngram) AS rnk
        FROM grams GROUP BY ngram
        QUALIFY rnk <= 20
    """
    o["text_quality_by_source"] = f"""
        WITH {_WORDS_CTE.strip()},
        st AS (
          SELECT d.source, d.lang,
                 len(w.w) AS n_words,
                 length(d.text) AS n_chars_m,
                 CAST(len(list_filter(w.w, x ->
                     list_contains({_STOPWORDS_SQL}, lower(x)))) AS DOUBLE)
                   / len(w.w) AS raw_ratio
          FROM words w JOIN documents d USING (doc_id)
        )
        SELECT source, lang, count(*) AS n_docs,
               round(avg(n_words), 4) AS avg_words,
               round(avg(n_chars_m), 4) AS avg_chars,
               round(avg(raw_ratio), 4) AS avg_stopword_ratio
        FROM st GROUP BY source, lang
    """
    o["text_fingerprint"] = f"""
        WITH {_WORDS_CTE.strip()}
        SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(7 AS BIGINT),
                   list_transform(w, x -> {_h('x', 0)})),
                 (acc, h) -> (acc * 1000003 + h) % 2147483647) AS fingerprint
        FROM words
    """
    o["text_repetition"] = f"""
        WITH {_WORDS_CTE.strip()},
        g AS (
          SELECT doc_id,
                 CASE WHEN len(w) >= 2
                   THEN list_transform(range(1, len(w)),
                                       i -> array_to_string(w[i:i+1], ' '))
                   ELSE CAST([] AS VARCHAR[]) END AS grams
          FROM words
        )
        SELECT doc_id,
               CASE WHEN len(grams) > 0
                 THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                            / len(grams), 4)
                 ELSE 0.0 END AS repetition_ratio
        FROM g
    """
    o["pack_windows"] = f"""
        WITH {_WORDS_CTE.strip()},
        t AS (
          SELECT doc_id AS id, CAST(len(w) AS BIGINT) AS n_tok,
                 {_h('doc_id', 7)} % 8 AS shard,
                 {_h('doc_id', 8)} AS _ord
          FROM words
        ),
        c AS (
          SELECT id, shard, n_tok,
                 CAST(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY shard ORDER BY _ord, id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS cum
          FROM t
        )
        SELECT id, shard, n_tok,
               CAST(cum // 512 AS BIGINT) AS first_window,
               CAST(cum % 512 AS BIGINT) AS win_offset,
               CAST((cum + n_tok - 1) // 512 AS BIGINT) AS last_window
        FROM c
    """
    o["pack_efficiency"] = f"""
        WITH p AS ({o["pack_windows"]})
        SELECT shard, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(max(last_window) + 1 AS BIGINT) AS n_windows,
               round(sum(n_tok) / ((max(last_window) + 1) * 512.0), 4)
                 AS fill_ratio
        FROM p GROUP BY shard
    """
    o["pipeline_chunk_pack"] = f"""
        WITH ch AS ({o["text_chunk"]}),
        t AS (
          SELECT doc_id * 1000 + chunk_idx AS id,
                 CAST(n_chunk_words AS BIGINT) AS n_tok,
                 {_h('doc_id * 1000 + chunk_idx', 7)} % 4 AS shard,
                 {_h('doc_id * 1000 + chunk_idx', 8)} AS _ord
          FROM ch
        ),
        c AS (
          SELECT id, shard, n_tok,
                 CAST(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY shard ORDER BY _ord, id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS cum
          FROM t
        )
        SELECT id, shard, n_tok,
               CAST(cum // 128 AS BIGINT) AS first_window,
               CAST(cum % 128 AS BIGINT) AS win_offset,
               CAST((cum + n_tok - 1) // 128 AS BIGINT) AS last_window
        FROM c
    """
    o["pipeline_corpus_build"] = rf"""
        WITH {_WORDS_CTE.strip()},
        st AS (
          SELECT doc_id, len(w) AS n_words,
                 round(CASE WHEN len(w) > 0 THEN
                   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(w, x -> CAST(length(x) AS BIGINT))),
                        (a, b) -> a + b) AS DOUBLE) / len(w)
                   ELSE 0.0 END, 4) AS awl,
                 round(CASE WHEN len(w) > 0 THEN
                   CAST(len(list_filter(w, x ->
                       list_contains({_STOPWORDS_SQL}, lower(x)))) AS DOUBLE)
                     / len(w)
                   ELSE 0.0 END, 4) AS ratio
          FROM words
        ),
        r AS (
          SELECT doc_id,
                 concat_ws(',',
                   CASE WHEN n_words < 20 THEN 'too_short' END,
                   CASE WHEN ratio > 0.25 THEN 'stopwordy' END,
                   CASE WHEN awl < 3.5 THEN 'short_words' END) AS reasons
          FROM st
        ),
        keep AS (SELECT doc_id FROM r WHERE reasons = ''),
        kd AS (
          SELECT d.doc_id, d.text FROM documents d
          SEMI JOIN keep USING (doc_id)
        ),
        ex AS (SELECT min(doc_id) AS doc_id FROM kd GROUP BY text),
        d2 AS (
          SELECT k.doc_id, string_split_regex(trim(k.text), '\s+') AS w
          FROM kd k SEMI JOIN ex USING (doc_id)
          WHERE k.text IS NOT NULL AND length(trim(k.text)) > 0
        ),
        n AS (
          SELECT doc_id, w,
                 1 + CAST(ceil(greatest(len(w) - 64, 0) / 48.0) AS BIGINT)
                   AS nc
          FROM d2
        ),
        ch0 AS (
          SELECT doc_id, w, unnest(range(0, nc)) AS chunk_idx FROM n
        ),
        ch AS (
          SELECT doc_id, chunk_idx,
                 CAST(len(w[chunk_idx*48+1 : chunk_idx*48+64]) AS BIGINT)
                   AS n_chunk_words
          FROM ch0
        ),
        t AS (
          SELECT doc_id * 1000 + chunk_idx AS id,
                 n_chunk_words AS n_tok,
                 {_h('doc_id * 1000 + chunk_idx', 7)} % 4 AS shard,
                 {_h('doc_id * 1000 + chunk_idx', 8)} AS _ord
          FROM ch
        ),
        cw AS (
          SELECT id, shard, n_tok,
                 CAST(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY shard ORDER BY _ord, id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS cum
          FROM t
        )
        SELECT id, shard, n_tok,
               CAST(cum // 128 AS BIGINT) AS first_window,
               CAST(cum % 128 AS BIGINT) AS win_offset,
               CAST((cum + n_tok - 1) // 128 AS BIGINT) AS last_window
        FROM cw
    """
    o["text_pii"] = r"""
        WITH seeded AS (
          SELECT doc_id,
                 concat(text,
                   CASE WHEN doc_id % 3 = 0
                        THEN concat(' contact user',
                                    CAST(doc_id AS VARCHAR), '@example.com')
                        ELSE '' END,
                   CASE WHEN doc_id % 5 = 0
                        THEN concat(' see https://example.org/d/',
                                    CAST(doc_id AS VARCHAR))
                        ELSE '' END,
                   CASE WHEN doc_id % 7 = 0
                        THEN ' call +1 555-0100 now' ELSE '' END
                 ) AS text
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                 AS INT) AS n_emails,
               CAST(len(regexp_extract_all(text, 'https?://[^\s]+'))
                 AS INT) AS n_urls,
               CAST(len(regexp_extract_all(text,
                 '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS INT) AS n_phones,
               (len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                + len(regexp_extract_all(text, 'https?://[^\s]+'))
                + len(regexp_extract_all(text,
                    '\+?[0-9][0-9()\- ]{6,}[0-9]'))) > 0 AS has_pii
        FROM seeded
    """
    o["sample_mixture_plan"] = r"""
        WITH s AS (
          SELECT source,
                 CAST(SUM(len(string_split_regex(trim(text), '\s+')))
                      AS BIGINT) AS available_tokens,
                 CASE source WHEN 'src0' THEN 1500
                             WHEN 'src1' THEN 900
                             WHEN 'src2' THEN 300 END AS target_tokens
          FROM documents GROUP BY source
        )
        SELECT source, available_tokens,
               CAST(target_tokens AS BIGINT) AS target_tokens,
               round(LEAST(1.0, CAST(target_tokens AS DOUBLE)
                                / available_tokens), 4) AS fraction,
               CAST(GREATEST(0, target_tokens - available_tokens)
                    AS BIGINT) AS shortfall_tokens
        FROM s WHERE target_tokens IS NOT NULL
    """
    zterms = []
    for _b in range(10):
        for _i, _e in enumerate(["(l_orderkey % 1024)", "(l_partkey % 1024)"]):
            zterms.append(f"((({_e} >> {_b}) & 1) << {_b * 2 + _i})")
    o["lake_zorder_key"] = (
        "SELECT l_orderkey, l_linenumber, CAST("
        + " | ".join(zterms)
        + " AS BIGINT) AS zkey FROM lineitem"
    )
    o["sim_lsh_recall"] = f"""
        WITH bt AS ({_sim_brute_oracle()}),
        ls AS ({_sim_lsh_oracle()})
        SELECT bt.q_id, CAST(count(ls.n_id) AS BIGINT) AS n_matched,
               round(count(ls.n_id) / 5.0, 4) AS recall_at_5
        FROM bt LEFT JOIN ls
          ON bt.q_id = ls.q_id AND bt.n_id = ls.n_id
        GROUP BY bt.q_id
    """
    o["stream_snap_ingest"] = """
        SELECT CAST(doc_id % 10 AS BIGINT) AS bucket,
               CAST(2 * count(*) AS BIGINT) AS n,
               CAST(2 * sum(doc_id) AS BIGINT) AS sum_id,
               CAST(2 * sum(length(text)) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1
    """
    o["stream_rollup"] = """
        SELECT user_id,
               2 * count(*) AS n_events,
               CAST(2 * SUM(CAST(round(value * 100) AS BIGINT)) / 100.0
                    AS DOUBLE) AS sum_value,
               min(value) AS min_value,
               max(value) AS max_value
        FROM events GROUP BY user_id
    """
    o["sample_weighted"] = f"""
        WITH {_WORDS_CTE.strip()},
        p AS (
          SELECT d.doc_id, d.source,
                 least(1.0, greatest(0.0, len(w.w) / 500.0)) AS pr
          FROM documents d JOIN words w USING (doc_id)
        )
        SELECT doc_id, source FROM p
        WHERE {_h('doc_id', 23)} % 10000
              < CAST(floor(pr * 10000) AS BIGINT)
    """
    o["sim_int8_recall"] = f"""
        WITH bt AS ({_sim_brute_oracle()}),
        i8 AS ({_sim_int8_oracle()})
        SELECT bt.q_id, CAST(count(i8.n_id) AS BIGINT) AS n_matched,
               round(count(i8.n_id) / 5.0, 4) AS recall_at_5
        FROM bt LEFT JOIN i8
          ON bt.q_id = i8.q_id AND bt.n_id = i8.n_id
        GROUP BY bt.q_id
    """
    o["sim_brute_topk"] = _sim_brute_oracle()
    o["sim_mmr_rerank"] = _sim_mmr_oracle()
    o["sim_pandas_topk"] = _sim_brute_oracle()
    o["sim_lsh_topk"] = _sim_lsh_oracle()
    o["dedup_embedding"] = _dedup_embedding_oracle()
    o["multimodal_extract"] = """
        SELECT doc_id AS asset_id, 'text/plain' AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    """
    o["multimodal_decode_wav"] = """
        SELECT doc_id AS asset_id,
               'wav' AS format,
               CAST(1 + doc_id % 2 AS BIGINT) AS n_channels,
               CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
               CAST((length(text) % 997 + 1) * 8 AS BIGINT) AS n_frames,
               CAST(((length(text) % 997 + 1) * 8 * 1000)
                    // (8000 * (1 + doc_id % 3)) AS BIGINT) AS duration_ms
        FROM documents WHERE doc_id % 5 = 0
    """
    o["multimodal_extract_arrow"] = o["multimodal_extract"]
    o["multimodal_decode_avi"] = """
        SELECT doc_id AS asset_id,
               'avi' AS format,
               CAST(160 + (doc_id % 8) * 16 AS BIGINT) AS width,
               CAST(120 + (doc_id % 7) * 16 AS BIGINT) AS height,
               CAST(length(text) % 240 + 1 AS BIGINT) AS n_frames,
               CAST(12 + (doc_id % 4) * 6 AS BIGINT) AS fps,
               CAST((length(text) % 240 + 1) * 1000
                    // (12 + (doc_id % 4) * 6) AS BIGINT) AS duration_ms
        FROM documents WHERE doc_id % 6 = 0
    """
    o["multimodal_decode_jpeg"] = """
        SELECT doc_id AS asset_id,
               'jpeg' AS format,
               CAST(64 + doc_id % 512 AS BIGINT) AS width,
               CAST(36 + (doc_id * 3) % 512 AS BIGINT) AS height,
               CAST(8 AS BIGINT) AS bit_depth
        FROM documents WHERE doc_id % 7 = 0
    """
    o["rollup_incremental"] = """
        SELECT user_id,
               count(*) AS n_events,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0
                    AS DOUBLE) AS sum_value,
               min(value) AS min_value,
               max(value) AS max_value,
               round(CAST(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0
                          AS DOUBLE) / count(*), 4) AS avg_value
        FROM events GROUP BY user_id
    """
    o["lake_upsert"] = """
        WITH u AS (
          SELECT o_orderkey, round(o_totalprice * 2, 2) AS o_totalprice,
                 'U' AS o_orderstatus
          FROM orders WHERE o_orderkey % 7 = 0
        )
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM u
    """
    o["p7_hash_sample"] = f"""
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        WHERE {_h(
            "concat_ws('|', CAST(l_orderkey AS VARCHAR), "
            "CAST(l_linenumber AS VARCHAR))", 7
        )} % 20 = 0
    """
    o["sim_ivf_topk"] = _sim_ivf_oracle()
    o["sim_ivfpq_topk"] = _sim_ivfpq_oracle()
    o["sim_ivf_recall"] = f"""
        WITH bt AS ({_sim_brute_oracle()}),
        iv AS ({_sim_ivf_oracle()})
        SELECT bt.q_id, CAST(count(iv.n_id) AS BIGINT) AS n_matched,
               round(count(iv.n_id) / 5.0, 4) AS recall_at_5
        FROM bt LEFT JOIN iv
          ON bt.q_id = iv.q_id AND bt.n_id = iv.n_id
        GROUP BY bt.q_id
    """
    o["text_tfidf"] = f"""
        WITH {_WORDS_CTE.strip()},
        tok AS (SELECT doc_id AS id, unnest(w) AS term FROM words),
        tf AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        scored AS (
          SELECT tf.id, tf.term, tf.tf,
                 round(tf.tf * ln((n.n_docs + 1) / CAST(dfreq.df + 1 AS DOUBLE)),
                       4) AS score
          FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        SELECT id, term, tf, score,
               row_number() OVER (PARTITION BY id
                                  ORDER BY score DESC, term) AS rnk
        FROM scored QUALIFY rnk <= 3
    """
    o["text_scrub"] = """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT)
                 AS n_digit_runs,
               md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS scrubbed_md5
        FROM documents
    """
    o["dedup_levenshtein"] = f"""
        WITH p AS ({_jaccard_oracle()})
        SELECT p.id_a, p.id_b,
               CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev
        FROM p
        JOIN documents da ON da.doc_id = p.id_a
        JOIN documents db ON db.doc_id = p.id_b
    """
    o["dedup_contamination"] = f"""
WITH {_WORDS_CTE.strip()},
{_SHINGLES_CTE.strip()},
shl AS (SELECT id AS id_l, shingle FROM sh WHERE id < 25),
hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 100),
capped AS (SELECT s.* FROM sh s ANTI JOIN hot h USING (shingle)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT l.id_l, r.id AS id_r, count(*) AS inter
  FROM shl l JOIN capped r USING (shingle)
  GROUP BY 1, 2
)
SELECT i.id_l, i.id_r, i.inter, sl.sz AS size_l, sr.sz AS size_r,
       round(i.inter / CAST(sl.sz + sr.sz - i.inter AS DOUBLE), 4) AS jaccard
FROM inter i
JOIN sizes sl ON sl.id = i.id_l
JOIN sizes sr ON sr.id = i.id_r
WHERE round(i.inter / CAST(sl.sz + sr.sz - i.inter AS DOUBLE), 4) >= 0.02
  AND i.id_l <> i.id_r
"""
    o["sample_stratified"] = f"""
        SELECT doc_id, source FROM documents
        WHERE {_h("CAST(doc_id AS VARCHAR)", 11)} % 10000 <
          CASE WHEN source = 'src2' THEN 2500
               WHEN source = 'src1' THEN 5000
               WHEN source = 'src0' THEN 10000
               ELSE 1000 END
    """
    o["text_quality_filter"] = f"""
        WITH {_WORDS_CTE.strip()},
        st AS (
          SELECT doc_id, len(w) AS n_words,
                 round(CASE WHEN len(w) > 0 THEN
                   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(w, x -> CAST(length(x) AS BIGINT))),
                        (a, b) -> a + b) AS DOUBLE) / len(w)
                   ELSE 0.0 END, 4) AS awl,
                 round(CASE WHEN len(w) > 0 THEN
                   CAST(len(list_filter(w, x ->
                       list_contains({_STOPWORDS_SQL}, lower(x)))) AS DOUBLE)
                     / len(w)
                   ELSE 0.0 END, 4) AS ratio
          FROM words
        ),
        r AS (
          SELECT doc_id,
                 concat_ws(',',
                   CASE WHEN n_words < 20 THEN 'too_short' END,
                   CASE WHEN ratio > 0.25 THEN 'stopwordy' END,
                   CASE WHEN awl < 3.5 THEN 'short_words' END) AS reasons
          FROM st
        )
        SELECT doc_id, reasons = '' AS keep, reasons FROM r
    """
    o["text_zscore_pandas"] = """
        SELECT doc_id AS id, source AS grp,
               round((n_chars - avg(n_chars) OVER w)
                     / stddev_samp(n_chars) OVER w, 4) AS z
        FROM documents
        WINDOW w AS (PARTITION BY source)
    """
    o["events_retention"] = f"""
        WITH d AS (
          SELECT DISTINCT user_id, ({_EVENT_US}) // 86400000000 AS day
          FROM events
        ),
        c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        SELECT c.cohort_day,
               count(DISTINCT d.user_id) AS n_users,
               count(DISTINCT CASE WHEN d.day = c.cohort_day + 1
                                   THEN d.user_id END) AS n_day1,
               count(DISTINCT CASE WHEN d.day = c.cohort_day + 7
                                   THEN d.user_id END) AS n_day7
        FROM d JOIN c USING (user_id)
        GROUP BY c.cohort_day
    """
    o["profile_table"] = """
        SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
               count(*) - count(o_orderkey) AS n_nulls,
               count(DISTINCT o_orderkey) AS n_distinct,
               CAST(min(o_orderkey) AS VARCHAR) AS min_v,
               CAST(max(o_orderkey) AS VARCHAR) AS max_v
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
               count(DISTINCT o_orderstatus),
               CAST(min(o_orderstatus) AS VARCHAR),
               CAST(max(o_orderstatus) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
               count(DISTINCT o_orderpriority),
               CAST(min(o_orderpriority) AS VARCHAR),
               CAST(max(o_orderpriority) AS VARCHAR)
        FROM orders
    """
    o["events_funnel"] = f"""
        WITH e AS (
          SELECT user_id AS u, event_type AS t, {_EVENT_US} AS ts FROM events
        ),
        s1 AS (SELECT u, min(ts) AS t1 FROM e WHERE t = 'signup' GROUP BY u),
        s2 AS (
          SELECT e.u, min(e.ts) AS t2 FROM e JOIN s1 ON e.u = s1.u
          WHERE e.t = 'click' AND e.ts >= s1.t1
            AND e.ts <= s1.t1 + 86400000000 GROUP BY e.u
        ),
        s3 AS (
          SELECT e.u, min(e.ts) AS t3 FROM e JOIN s2 ON e.u = s2.u
          WHERE e.t = 'purchase' AND e.ts >= s2.t2
            AND e.ts <= s2.t2 + 86400000000 GROUP BY e.u
        ),
        staged AS (
          SELECT d.u,
                 CASE WHEN s3.u IS NOT NULL THEN 3
                      WHEN s2.u IS NOT NULL THEN 2
                      WHEN s1.u IS NOT NULL THEN 1
                      ELSE 0 END AS stage
          FROM (SELECT DISTINCT u FROM e) d
          LEFT JOIN s1 ON d.u = s1.u
          LEFT JOIN s2 ON d.u = s2.u
          LEFT JOIN s3 ON d.u = s3.u
        )
        SELECT CAST(stage AS INT) AS stage, count(*) AS n_users
        FROM staged GROUP BY stage
    """
    o["events_pattern_match"] = f"""
        WITH ev AS (
          SELECT user_id,
                 CASE event_type WHEN 'signup' THEN 'S'
                      WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
                      WHEN 'purchase' THEN 'P' WHEN 'error' THEN 'E'
                      ELSE 'X' END AS sym,
                 {_EVENT_US} AS ts_us, event_id
          FROM events
        ),
        seq AS (
          SELECT user_id,
                 string_agg(sym, '' ORDER BY ts_us, event_id) AS s
          FROM ev GROUP BY user_id
        )
        SELECT user_id, CAST(length(s) AS BIGINT) AS n_events,
               CAST(len(regexp_extract_all(s, 'V+C[^P]*P'))
                    AS BIGINT) AS n_matches
        FROM seq
        WHERE len(regexp_extract_all(s, 'V+C[^P]*P')) > 0
    """
    o["events_gap_fill"] = f"""
        WITH e AS (
          SELECT user_id, ({_EVENT_US}) // 86400000000 AS day FROM events
        ),
        d AS (SELECT user_id, day, count(*) AS n FROM e GROUP BY 1, 2),
        s AS (SELECT user_id, min(day) AS lo, max(day) AS hi
              FROM e GROUP BY 1),
        cal AS (SELECT user_id, unnest(range(lo, hi + 1)) AS day FROM s)
        SELECT c.user_id, c.day,
               CAST(coalesce(d.n, 0) AS BIGINT) AS n_events
        FROM cal c LEFT JOIN d USING (user_id, day)
    """
    o["flagship_lake_nest"] = """
        WITH lvl1 AS (
          SELECT l_orderkey, o_orderstatus,
                 count(DISTINCT l_linenumber) AS n_items
          FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
          GROUP BY l_orderkey, o_orderstatus
        )
        SELECT CAST(l_orderkey // 1000 AS BIGINT) AS bucket,
               array_to_string(list_sort(list(l_orderkey)), ',') AS order_keys,
               count(*) AS n_orders,
               CAST(sum(n_items) AS BIGINT) AS total_items
        FROM lvl1 GROUP BY 1
    """
    o["scd2_history"] = f"""
        WITH base AS (
          SELECT user_id, event_id, {_EVENT_US} AS ts_us, event_type,
                 row_number() OVER w AS rn,
                 lag(event_type) OVER w AS prev
          FROM events
          WINDOW w AS (PARTITION BY user_id
                       ORDER BY {_EVENT_US}, event_id)
        ),
        chg AS (
          SELECT user_id, event_id, ts_us, event_type FROM base
          WHERE rn = 1 OR event_type IS DISTINCT FROM prev
        )
        SELECT user_id, event_type, ts_us AS valid_from_us,
               lead(ts_us) OVER w2 AS valid_to_us,
               CAST(row_number() OVER w2 AS BIGINT) AS version,
               (lead(ts_us) OVER w2 IS NULL) AS is_current
        FROM chg
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    """
    # digest equality is evaluated WITHIN each engine (only the
    # status counts cross engines), but the compared columns still
    # render portably (cents, not raw doubles) per reconcile.py's rule
    _null_sql = "chr(31)||chr(0)"
    _dig = lambda cols: (  # noqa: E731 — local SQL fragment builder
        "md5(concat_ws(chr(31), "
        + ", ".join(
            f"coalesce(CAST({c} AS VARCHAR), {_null_sql})" for c in cols
        )
        + "))"
    )
    _diff_cols = [
        "o_custkey", "o_orderstatus", "o_orderpriority", "price_cents",
    ]
    o["table_diff"] = f"""
        WITH base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
          FROM orders
        ),
        r1 AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CASE WHEN o_orderkey % 97 = 0 THEN 'X-MUTATED'
                      ELSE o_orderpriority END AS o_orderpriority,
                 price_cents
          FROM base WHERE o_orderkey % 101 <> 0
          UNION ALL
          SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
                 o_orderstatus, o_orderpriority, price_cents
          FROM base WHERE o_orderkey % 103 = 0
        ),
        l AS (SELECT o_orderkey, {_dig(_diff_cols)} AS ld FROM base),
        r AS (SELECT o_orderkey, {_dig(_diff_cols)} AS rd FROM r1),
        d AS (
          SELECT CASE WHEN ld IS NULL THEN 'only_right'
                      WHEN rd IS NULL THEN 'only_left'
                      WHEN ld = rd THEN 'match'
                      ELSE 'differs' END AS status
          FROM l FULL OUTER JOIN r USING (o_orderkey)
        ),
        c AS (SELECT status, count(*) AS n_rows FROM d GROUP BY status)
        SELECT s.status, coalesce(c.n_rows, 0) AS n_rows
        FROM (SELECT unnest(
                ['differs', 'match', 'only_left', 'only_right']
              ) AS status) s
        LEFT JOIN c ON s.status = c.status
    """
    o["events_transition"] = f"""
        WITH seq AS (
          SELECT event_type AS next_type,
                 lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY {_EVENT_US}, event_id) AS prev_type
          FROM events
        ),
        c AS (
          SELECT prev_type, next_type, count(*) AS n FROM seq
          WHERE prev_type IS NOT NULL GROUP BY 1, 2
        ),
        t AS (SELECT prev_type, sum(n) AS total FROM c GROUP BY 1)
        SELECT c.prev_type, c.next_type, c.n,
               round(CAST(c.n AS DOUBLE) / t.total, 4) AS p
        FROM c JOIN t USING (prev_type)
    """
    o["events_attribution"] = f"""
        WITH e AS (
          SELECT user_id, event_id, event_type, value,
                 {_EVENT_US} AS ts_us
          FROM events
        ),
        c AS (
          SELECT event_type, value, ts_us,
                 last_value(CASE WHEN event_type <> 'purchase'
                                 THEN event_type END IGNORE NULLS)
                   OVER w AS touch,
                 last_value(CASE WHEN event_type <> 'purchase'
                                 THEN ts_us END IGNORE NULLS)
                   OVER w AS touch_us
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING)
        )
        SELECT CASE WHEN touch IS NOT NULL
                     AND ts_us - touch_us <= {_ATTR_WITHIN_US}
                    THEN touch ELSE 'direct' END AS channel,
               count(*) AS n_conversions,
               round(sum(value), 2) AS attributed_value
        FROM c WHERE event_type = 'purchase' GROUP BY 1
    """
    o["profile_histogram"] = f"""
        WITH c AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ),
        b AS (
          SELECT cents,
                 least(greatest(
                   (cents - {_HIST_LO_CENTS}) // {_HIST_WIDTH},
                   0), {_HIST_BUCKETS - 1}) AS bucket
          FROM c
        )
        SELECT bucket,
               {_HIST_LO_CENTS} + bucket * {_HIST_WIDTH} AS lo_cents,
               {_HIST_LO_CENTS} + (bucket + 1) * {_HIST_WIDTH}
                 AS hi_cents,
               count(*) AS n_rows,
               min(cents) AS min_cents,
               max(cents) AS max_cents
        FROM b GROUP BY bucket
    """
    _bm25_tf = {
        t: f"len(regexp_extract_all(lower(text), '\\b{t}\\b'))"
        for t in _BM25_TERMS
    }
    _bm25_terms_sql = " ".join(
        f"""
        + ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)
          * tf{i} * 2.2
          / (tf{i} + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))"""
        for i in range(len(_BM25_TERMS))
    )
    o["text_bm25"] = f"""
        WITH d AS (
          SELECT doc_id,
                 len(regexp_split_to_array(trim(text), '\\s+')) AS dl,
                 {", ".join(f"{_bm25_tf[t]} AS tf{i}" for i, t in enumerate(_BM25_TERMS))}
          FROM documents
        ),
        s AS (
          SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
                 {", ".join(f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}" for i in range(len(_BM25_TERMS)))}
          FROM d
        ),
        scored AS (
          SELECT doc_id, dl,
                 round(0.0 {_bm25_terms_sql}, 4) AS score
          FROM d, s
        )
        SELECT doc_id, dl, score FROM scored
        WHERE score > 0
        ORDER BY score DESC, doc_id LIMIT 20
    """
    o["sql_tpch_q9"] = _SQL_Q9
    o["sql_tpch_q11"] = _SQL_Q11
    o["sql_tpch_q15"] = _SQL_Q15
    o["sql_tpch_q21"] = _SQL_Q21
    o["multimodal_decode_mp4"] = """
        SELECT doc_id AS asset_id,
               'mp4' AS format,
               CAST(128 + (doc_id % 16) * 8 AS BIGINT) AS width,
               CAST(96 + (doc_id % 9) * 16 AS BIGINT) AS height,
               CAST(length(text) % 360 + 1 AS BIGINT) AS n_frames,
               CAST(10 + (doc_id % 5) * 5 AS BIGINT) AS fps,
               CAST((length(text) % 360 + 1) * 1000
                    // (10 + (doc_id % 5) * 5) AS BIGINT) AS duration_ms
        FROM documents WHERE doc_id % 5 = 0
    """
    o["multimodal_decode_mp3"] = """
        SELECT doc_id AS asset_id,
               'mp3' AS format,
               CAST(doc_id % 2 + 1 AS BIGINT) AS n_channels,
               CAST(CASE doc_id % 3 WHEN 0 THEN 44100
                    WHEN 1 THEN 48000 ELSE 32000 END AS BIGINT)
                 AS sample_rate,
               CAST(length(text) % 150 + 1 AS BIGINT) AS n_frames,
               CAST((length(text) % 150 + 1) * 1152 * 1000
                    // (CASE doc_id % 3 WHEN 0 THEN 44100
                        WHEN 1 THEN 48000 ELSE 32000 END) AS BIGINT)
                 AS duration_ms
        FROM documents WHERE doc_id % 4 = 1
    """
    o["multimodal_decode_flac"] = """
        SELECT doc_id AS asset_id,
               'flac' AS format,
               CAST(doc_id % 2 + 1 AS BIGINT) AS n_channels,
               CAST(CASE doc_id % 3 WHEN 0 THEN 44100
                    WHEN 1 THEN 48000 ELSE 96000 END AS BIGINT)
                 AS sample_rate,
               CAST(length(text) * 37 % 200000 + 1 AS BIGINT)
                 AS n_frames,
               CAST((length(text) * 37 % 200000 + 1) * 1000
                    // (CASE doc_id % 3 WHEN 0 THEN 44100
                        WHEN 1 THEN 48000 ELSE 96000 END) AS BIGINT)
                 AS duration_ms
        FROM documents WHERE doc_id % 6 = 2
    """
    o["multimodal_decode_ogg"] = """
        SELECT doc_id AS asset_id,
               'opus' AS format,
               CAST(doc_id % 2 + 1 AS BIGINT) AS n_channels,
               CAST(CASE doc_id % 3 WHEN 0 THEN 8000
                    WHEN 1 THEN 16000 ELSE 48000 END AS BIGINT)
                 AS sample_rate,
               CAST(length(text) * 53 % 480000 + 1 AS BIGINT)
                 AS n_frames,
               CAST((length(text) * 53 % 480000 + 1) * 1000
                    // 48000 AS BIGINT) AS duration_ms
        FROM documents WHERE doc_id % 6 = 3
    """
    o["graph_pagerank"] = _pagerank_oracle(
        _PAGERANK_ITERS, _PAGERANK_SCALE
    )
    o["graph_triangles"] = _GRAPH_TRIANGLES_ORACLE
    o["graph_link_predict"] = _GRAPH_LINKS_ORACLE
    o["dedup_semantic"] = f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings
        ),
        n AS (
          SELECT vec_id, e, sqrt({_dot_sql('e', 'e')}) AS nrm FROM v
        ),
        c AS (
          SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM n
          WHERE vec_id IN (
            SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16
          )
        ),
        asgn AS (
          SELECT n.vec_id AS id, n.e, n.nrm, c.cid,
                 round({_dot_sql('n.e', 'c.ce')} / (n.nrm * c.cnrm), 9)
                   AS cs
          FROM n CROSS JOIN c
        ),
        r AS (
          SELECT *, row_number() OVER (
            PARTITION BY id ORDER BY cs DESC, cid
          ) AS rk FROM asgn
        ),
        m AS (SELECT id, e, nrm, cid FROM r WHERE rk = 1),
        dropped AS (
          SELECT DISTINCT b.id AS id
          FROM m a JOIN m b ON a.cid = b.cid AND a.id < b.id
          WHERE round({_dot_sql('a.e', 'b.e')} / (a.nrm * b.nrm), 4)
                  >= 0.3
        )
        SELECT m.id AS vec_id, m.cid,
               CAST(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS BIGINT)
                 AS keep
        FROM m LEFT JOIN dropped d USING (id)
    """
    # G.711: stateless per-byte expansion — closed-form CASE. u-law
    # works on the complemented byte (255−b); a-law on b XOR 0x55.
    o["multimodal_audio_g711"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 50 + (doc_id % 9) * 30 AS frames,
                 doc_id % 2 AS law  -- 0 = ulaw, 1 = alaw
          FROM documents WHERE doc_id % 13 = 7
        ),
        samp AS (
          SELECT asset_id, law,
                 CAST((5 * i + asset_id) % 256 AS INT) AS b
          FROM prm, UNNEST(range(frames)) AS u(i)
        ),
        dec AS (
          SELECT asset_id,
            CASE WHEN law = 0 THEN
              CASE WHEN (255 - b) >= 128
                THEN 132 - ((((255 - b) % 16) * 8 + 132)
                            << (((255 - b) // 16) % 8))
                ELSE ((((255 - b) % 16) * 8 + 132)
                      << (((255 - b) // 16) % 8)) - 132
              END
            ELSE
              (CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END) *
              CASE WHEN ((xor(b, 85) // 16) % 8) = 0
                     THEN (xor(b, 85) % 16) * 16 + 8
                   WHEN ((xor(b, 85) // 16) % 8) = 1
                     THEN (xor(b, 85) % 16) * 16 + 264
                   ELSE ((xor(b, 85) % 16) * 16 + 264)
                        << (((xor(b, 85) // 16) % 8) - 1)
              END
            END AS s
          FROM samp
        )
        SELECT asset_id,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(s) AS BIGINT) AS sum_amp,
               CAST(sum(s * s) AS BIGINT) AS sum_sq,
               CAST(max(abs(s)) AS BIGINT) AS peak
        FROM dec GROUP BY asset_id
    """
    # IMA ADPCM: the oracle replays the decoder's EXACT state machine
    # (step-table walk, diff truncation, ±32768/88 clamps) as a
    # recursive CTE — depth = samples-per-block, all (asset, block)
    # rows advancing in parallel. Tables emitted as VALUES relations.
    _steps_vals = ", ".join(
        f"({i}, {s})" for i, s in enumerate(M._IMA_STEPS)
    )
    _itab_vals = ", ".join(
        f"({n}, {d})" for n, d in enumerate(M._IMA_INDEX)
    )
    o["multimodal_audio_adpcm"] = f"""
        WITH RECURSIVE steps(si, step) AS (VALUES {_steps_vals}),
        itab(nn, di) AS (VALUES {_itab_vals}),
        prm AS (
          SELECT doc_id AS asset_id,
                 2 + (doc_id % 4) AS n_blocks,
                 12 + (doc_id % 5) * 8 AS align
          FROM documents WHERE doc_id % 13 = 5
        ),
        blocks AS (
          SELECT asset_id, b,
                 (37 * b + 11 * asset_id) % 200 - 100 AS pred0,
                 (7 * b + asset_id) % 89 AS idx0,
                 2 * (align - 4) AS s_total
          FROM prm, UNNEST(range(n_blocks)) AS u(b)
        ),
        dec(asset_id, b, j, pred, idx, s_total) AS (
          SELECT asset_id, b, 0, pred0, idx0, s_total FROM blocks
          UNION ALL
          SELECT d.asset_id, d.b, d.j + 1,
                 GREATEST(-32768, LEAST(32767, d.pred +
                   (CASE WHEN d.nib >= 8 THEN -1 ELSE 1 END) *
                   ((st.step // 8)
                    + CASE WHEN (d.nib % 8) >= 4
                           THEN st.step ELSE 0 END
                    + CASE WHEN (d.nib % 4) >= 2
                           THEN st.step // 2 ELSE 0 END
                    + CASE WHEN (d.nib % 2) = 1
                           THEN st.step // 4 ELSE 0 END))),
                 GREATEST(0, LEAST(88, d.idx + it.di)),
                 d.s_total
          FROM (SELECT *,
                       CAST((3 * j + 2 * b + asset_id) % 16 AS INT)
                         AS nib
                FROM dec WHERE j < s_total) d
          JOIN steps st ON st.si = d.idx
          JOIN itab it ON it.nn = d.nib
        )
        SELECT asset_id,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(pred) AS BIGINT) AS sum_amp,
               CAST(sum(pred * pred) AS BIGINT) AS sum_sq,
               CAST(max(abs(pred)) AS BIGINT) AS peak
        FROM dec GROUP BY asset_id
    """
    o["multimodal_audio_adpcm_stereo"] = f"""
        WITH RECURSIVE steps(si, step) AS (VALUES {_steps_vals}),
        itab(nn, di) AS (VALUES {_itab_vals}),
        prm AS (
          SELECT doc_id AS asset_id,
                 1 + (doc_id % 3) AS n_blocks,
                 16 + (doc_id % 4) * 8 AS align
          FROM documents WHERE doc_id % 13 = 10
        ),
        blocks AS (
          SELECT asset_id, b, ch,
                 (37 * b + 11 * asset_id + 23 * ch) % 200 - 100
                   AS pred0,
                 (7 * b + asset_id + 3 * ch) % 89 AS idx0,
                 align - 8 AS s_total
          FROM prm,
               UNNEST(range(n_blocks)) AS u(b),
               UNNEST(range(2)) AS w(ch)
        ),
        dec(asset_id, b, ch, j, pred, idx, s_total) AS (
          SELECT asset_id, b, ch, 0, pred0, idx0, s_total FROM blocks
          UNION ALL
          SELECT d.asset_id, d.b, d.ch, d.j + 1,
                 GREATEST(-32768, LEAST(32767, d.pred +
                   (CASE WHEN d.nib >= 8 THEN -1 ELSE 1 END) *
                   ((st.step // 8)
                    + CASE WHEN (d.nib % 8) >= 4
                           THEN st.step ELSE 0 END
                    + CASE WHEN (d.nib % 4) >= 2
                           THEN st.step // 2 ELSE 0 END
                    + CASE WHEN (d.nib % 2) = 1
                           THEN st.step // 4 ELSE 0 END))),
                 GREATEST(0, LEAST(88, d.idx + it.di)),
                 d.s_total
          FROM (SELECT *,
                       CAST((3 * j + 2 * b + 5 * ch + asset_id) % 16
                            AS INT) AS nib
                FROM dec WHERE j < s_total) d
          JOIN steps st ON st.si = d.idx
          JOIN itab it ON it.nn = d.nib
        )
        SELECT asset_id,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(pred) AS BIGINT) AS sum_amp,
               CAST(sum(pred * pred) AS BIGINT) AS sum_sq,
               CAST(max(abs(pred)) AS BIGINT) AS peak
        FROM dec GROUP BY asset_id
    """
    # MS-ADPCM: recursive-CTE replay of the two-tap adaptive-delta
    # recurrence; coefficient pairs and the adaptation table ride as
    # VALUES relations. (s1·c1 + s2·c2) >> 8 is an ARITHMETIC shift,
    # i.e. floor division — hence floor(x / 256.0), not x // 256.
    _ms_coef_vals = ", ".join(
        f"({i}, {c1}, {c2})"
        for i, (c1, c2) in enumerate(M._MS_COEFS)
    )
    _ms_adapt_vals = ", ".join(
        f"({n}, {a})" for n, a in enumerate(M._MS_ADAPT)
    )
    o["multimodal_audio_msadpcm"] = f"""
        WITH RECURSIVE coef(ci, c1, c2) AS (VALUES {_ms_coef_vals}),
        adapt(nn, av) AS (VALUES {_ms_adapt_vals}),
        prm AS (
          SELECT doc_id AS asset_id,
                 1 + (doc_id % 3) AS n_blocks,
                 20 + (doc_id % 4) * 8 AS align
          FROM documents WHERE doc_id % 13 = 2
        ),
        blocks AS (
          SELECT asset_id, b, ch,
                 (b + asset_id + ch) % 7 AS ci,
                 16 + (11 * b + 7 * asset_id + 5 * ch) % 500 AS d0,
                 (29 * b + 13 * asset_id + 17 * ch) % 2001 - 1000
                   AS s1_0,
                 (31 * b + 19 * asset_id + 23 * ch) % 2001 - 1000
                   AS s2_0,
                 align - 14 AS t_total
          FROM prm,
               UNNEST(range(n_blocks)) AS u(b),
               UNNEST(range(2)) AS w(ch)
        ),
        dec(asset_id, b, ch, ci, j, s1, s2, d, cur, t_total) AS (
          SELECT asset_id, b, ch, ci, 0, s1_0, s2_0, d0, s1_0,
                 t_total
          FROM blocks
          UNION ALL
          SELECT d.asset_id, d.b, d.ch, d.ci, d.j + 1,
                 GREATEST(-32768, LEAST(32767,
                   CAST(floor((d.s1 * c.c1 + d.s2 * c.c2) / 256.0)
                        AS BIGINT)
                   + (CASE WHEN d.nib >= 8 THEN d.nib - 16
                           ELSE d.nib END) * d.d)),
                 d.s1,
                 GREATEST((a.av * d.d) // 256, 16),
                 GREATEST(-32768, LEAST(32767,
                   CAST(floor((d.s1 * c.c1 + d.s2 * c.c2) / 256.0)
                        AS BIGINT)
                   + (CASE WHEN d.nib >= 8 THEN d.nib - 16
                           ELSE d.nib END) * d.d)),
                 d.t_total
          FROM (SELECT *,
                       CAST((3 * j + 2 * b + 5 * ch + asset_id) % 16
                            AS INT) AS nib
                FROM dec WHERE j < t_total) d
          JOIN coef c ON c.ci = d.ci
          JOIN adapt a ON a.nn = d.nib
        ),
        samples AS (
          SELECT asset_id, cur AS s FROM dec
          UNION ALL
          SELECT asset_id, s2_0 AS s FROM blocks
        )
        SELECT asset_id,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(s) AS BIGINT) AS sum_amp,
               CAST(sum(s * s) AS BIGINT) AS sum_sq,
               CAST(max(abs(s)) AS BIGINT) AS peak
        FROM samples GROUP BY asset_id
    """
    o["multimodal_audio_au"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 40 + (doc_id % 9) * 25 AS frames,
                 CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS enc
          FROM documents WHERE doc_id % 13 = 1
        ),
        samp AS (
          SELECT asset_id, enc, i,
                 CAST((5 * i + asset_id) % 256 AS INT) AS b
          FROM prm, UNNEST(range(frames)) AS u(i)
        ),
        dec AS (
          SELECT asset_id,
            CASE WHEN enc = 1 THEN
              CASE WHEN (255 - b) >= 128
                THEN 132 - ((((255 - b) % 16) * 8 + 132)
                            << (((255 - b) // 16) % 8))
                ELSE ((((255 - b) % 16) * 8 + 132)
                      << (((255 - b) // 16) % 8)) - 132
              END
            ELSE (7 * i + 3 * asset_id) % 4001 - 2000
            END AS s
          FROM samp
        )
        SELECT asset_id,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(s) AS BIGINT) AS sum_amp,
               CAST(sum(s * s) AS BIGINT) AS sum_sq,
               CAST(max(abs(s)) AS BIGINT) AS peak
        FROM dec GROUP BY asset_id
    """
    o["multimodal_audio_aiff"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 30 + (doc_id % 11) * 20 AS frames
          FROM documents WHERE doc_id % 13 = 0
        ),
        dec AS (
          SELECT asset_id,
                 (11 * i + 5 * asset_id) % 4001 - 2000 AS s
          FROM prm, UNNEST(range(frames)) AS u(i)
        )
        SELECT asset_id,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(s) AS BIGINT) AS sum_amp,
               CAST(sum(s * s) AS BIGINT) AS sum_sq,
               CAST(max(abs(s)) AS BIGINT) AS peak
        FROM dec GROUP BY asset_id
    """
    o["multimodal_audio_gates"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 64 + (doc_id % 50) * 64 AS amp,
                 40 + doc_id % 23 AS n_tone,
                 (doc_id % 5) * 7 AS n_sil,
                 (doc_id % 4) * 3 AS n_clip
          FROM documents WHERE doc_id % 13 = 5
        ),
        m AS (
          SELECT asset_id,
                 n_tone + n_sil + n_clip AS n,
                 n_tone * amp * amp
                   + ((n_clip + 1) // 2) * 32767 * 32767
                   + (n_clip // 2) * 32768 * 32768 AS sum_sq,
                 n_sil, n_clip
          FROM prm
        )
        SELECT asset_id,
               CAST(n AS BIGINT) AS n_samples,
               CAST(sum_sq // n AS BIGINT) AS mean_sq,
               CAST(n_sil AS BIGINT) AS longest_silence,
               CAST((1000 * n_clip) // n AS BIGINT) AS clip_milli,
               (sum_sq // n >= 10000 AND n_sil <= 20
                AND (1000 * n_clip) // n <= 25) AS keep
        FROM m
    """
    o["multimodal_image_gates"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id, doc_id % 4 AS kind,
                 1 + doc_id % 60 AS d
          FROM documents WHERE doc_id % 13 = 6
        )
        SELECT asset_id,
               CAST(1024 AS BIGINT) AS n_pixels,
               CAST(CASE kind
                 WHEN 1 THEN 4000 * d * d
                 WHEN 3 THEN 16000 * d * d
                 ELSE 0 END AS BIGINT) AS lap_var_milli,
               CAST(CASE kind
                 WHEN 0 THEN 0.0
                 WHEN 2 THEN 3.4657
                 ELSE 0.6931 END AS DOUBLE) AS entropy_nats,
               kind IN (1, 3) AS keep
        FROM prm
    """
    o["multimodal_audio_pcm"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 16 + (doc_id % 4) * 16 AS p,
                 1 + doc_id % 5 AS s,
                 (length(text) % 997 + 1) * 4 AS f,
                 1 + doc_id % 2 AS c
          FROM documents WHERE doc_id % 7 = 0
        ),
        cyc AS (
          SELECT asset_id,
                 CAST(sum(v) AS BIGINT) AS cs,
                 CAST(sum(v * v) AS BIGINT) AS css
          FROM (SELECT asset_id, j * s - ((p - 1) * s) // 2 AS v
                FROM prm, UNNEST(range(p)) AS u(j))
          GROUP BY asset_id
        ),
        part AS (
          SELECT asset_id,
                 CAST(sum(v) AS BIGINT) AS ps,
                 CAST(sum(v * v) AS BIGINT) AS pss
          FROM (SELECT asset_id, j * s - ((p - 1) * s) // 2 AS v
                FROM prm, UNNEST(range(f % p)) AS u(j))
          GROUP BY asset_id
        ),
        pk AS (
          SELECT asset_id,
                 CAST(max(abs(j * s - ((p - 1) * s) // 2)) AS BIGINT)
                   AS peak
          FROM prm, UNNEST(range(least(f, p))) AS u(j)
          GROUP BY asset_id
        )
        SELECT prm.asset_id,
               CAST(f * c AS BIGINT) AS n_samples,
               CAST(c * ((f // p) * cyc.cs + coalesce(part.ps, 0))
                 AS BIGINT) AS sum_amp,
               CAST(c * ((f // p) * cyc.css + coalesce(part.pss, 0))
                 AS BIGINT) AS sum_sq,
               pk.peak
        FROM prm
        JOIN cyc USING (asset_id)
        LEFT JOIN part USING (asset_id)
        JOIN pk USING (asset_id)
    """
    o["multimodal_pixel_stats"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 32 + (doc_id % 5) * 16 AS w,
                 24 + (doc_id % 4) * 12 AS h
          FROM documents WHERE doc_id % 7 = 1
        ),
        px AS (
          SELECT asset_id,
                 CAST(sum((i % w + i // w) % 256) AS BIGINT) AS sum_b,
                 CAST(sum((2 * (i % w) + i // w) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((i % w + 2 * (i // w)) % 256) AS BIGINT)
                   AS sum_r
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               px.sum_r, px.sum_g, px.sum_b
        FROM prm JOIN px USING (asset_id)
    """
    o["multimodal_png_pixels"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 16 + (doc_id % 5) * 8 AS w,
                 10 + (doc_id % 4) * 6 AS h
          FROM documents WHERE doc_id % 7 = 2
        ),
        px AS (
          SELECT asset_id,
                 CAST(sum((i % w + 2 * (i // w)) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((2 * (i % w) + i // w) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((i % w + i // w) % 256) AS BIGINT) AS sum_b
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               px.sum_r, px.sum_g, px.sum_b
        FROM prm JOIN px USING (asset_id)
    """
    o["multimodal_flac_stereo"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 3 + doc_id % 5 AS nf,
                 (doc_id % 40) * 30 - 600 AS base,
                 (doc_id % 30) * 20 - 300 AS base2
          FROM documents WHERE doc_id % 14 = 11
        ),
        v AS (
          -- left/side and side/right frames (f%3 != 2) double their
          -- signals and code with one wasted bit; mid/side unscaled
          SELECT asset_id,
                 (CASE WHEN f.i % 3 = 2 THEN 1 ELSE 2 END)
                   * (base + 11 * f.i + ((f.i % 9) - 4) * s.i) AS v
          FROM prm,
               UNNEST(range(nf)) AS f(i),
               UNNEST(range(64)) AS s(i)
          UNION ALL
          SELECT asset_id,
                 (CASE WHEN f.i % 3 = 2 THEN 1 ELSE 2 END)
                   * (base2 + 7 * f.i + ((f.i % 5) - 2) * s.i) AS v
          FROM prm,
               UNNEST(range(nf)) AS f(i),
               UNNEST(range(64)) AS s(i)
        )
        SELECT asset_id,
               count(*) AS n_samples,
               CAST(sum(v) AS BIGINT) AS sum_amp,
               CAST(sum(v * v) AS BIGINT) AS sum_sq,
               CAST(max(abs(v)) AS BIGINT) AS peak
        FROM v GROUP BY asset_id
    """
    o["multimodal_flac_lpc"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 3 + doc_id % 4 AS nf,
                 1 + doc_id % 2 AS ch,
                 (doc_id % 60) * 25 - 700 AS base
          FROM documents WHERE doc_id % 12 = 9
        ),
        v AS (
          SELECT asset_id,
                 base + 11 * f.i + c.i + ((f.i % 9) - 4) * s.i
                   + CASE WHEN f.i % 3 = 2 THEN s.i * s.i ELSE 0 END
                   AS v
          FROM prm,
               UNNEST(range(nf)) AS f(i),
               UNNEST(range(ch)) AS c(i),
               UNNEST(range(64)) AS s(i)
        )
        SELECT asset_id,
               count(*) AS n_samples,
               CAST(sum(v) AS BIGINT) AS sum_amp,
               CAST(sum(v * v) AS BIGINT) AS sum_sq,
               CAST(max(abs(v)) AS BIGINT) AS peak
        FROM v GROUP BY asset_id
    """
    o["multimodal_jpeg_restart"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 13 + (doc_id % 6) * 7 AS w,
                 11 + (doc_id % 5) * 5 AS h
          FROM documents WHERE doc_id % 13 = 6
        ),
        px AS (
          SELECT asset_id,
                 CAST(sum((37 * ((i % w) // 8) + 71 * ((i // w) // 8))
                      % 256) AS BIGINT) AS s
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               px.s AS sum_r, px.s AS sum_g, px.s AS sum_b
        FROM prm JOIN px USING (asset_id)
    """
    o["multimodal_png_interlaced"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 3 + (doc_id % 7) * 5 AS w,
                 1 + (doc_id % 9) * 3 AS h
          FROM documents WHERE doc_id % 11 = 3
        ),
        px AS (
          SELECT asset_id,
                 CAST(sum((i % w + 2 * (i // w)) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((2 * (i % w) + i // w) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((i % w + i // w) % 256) AS BIGINT) AS sum_b
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               px.sum_r, px.sum_g, px.sum_b
        FROM prm JOIN px USING (asset_id)
    """
    o["multimodal_image_dedup"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 8 + (doc_id % 3) * 4 AS w,
                 6 + (doc_id % 2) * 5 AS h
          FROM documents WHERE doc_id % 5 = 1
        ),
        px AS (
          SELECT asset_id, CAST(w * h AS BIGINT) AS n_pixels,
                 CAST(sum((i % w + 2 * (i // w)) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((2 * (i % w) + i // w) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((i % w + i // w) % 256) AS BIGINT) AS sum_b
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id, w, h
        )
        SELECT n_pixels, sum_r, sum_g, sum_b,
               count(*) AS n_dups,
               CAST(min(asset_id) AS BIGINT) AS keep_id
        FROM px GROUP BY 1, 2, 3, 4
    """
    o["s23_snap_change_stream"] = """
        SELECT CAST(0 AS BIGINT) AS _commit_version,
               count(*) AS n,
               CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        FROM nation WHERE n_nationkey % 2 = 0
        UNION ALL
        SELECT CAST(1 AS BIGINT), count(*),
               CAST(sum(n_nationkey) AS BIGINT)
        FROM nation WHERE n_nationkey % 2 = 1
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*),
               CAST(sum(n_nationkey + 100) AS BIGINT)
        FROM nation
    """
    o["multimodal_jpeg_sa"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 10 + (doc_id % 7) * 6 AS w,
                 9 + (doc_id % 6) * 5 AS h
          FROM documents WHERE doc_id % 19 = 8
        ),
        px AS (
          SELECT asset_id,
                 (37 * ((i % w) // 8) + 71 * ((i // w) // 8)) % 256 AS yy,
                 (23 * ((i % w) // 8) + 41 * ((i // w) // 8)) % 256 AS cb,
                 (53 * ((i % w) // 8) + 13 * ((i // w) // 8)) % 256 AS cr
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        rgb AS (
          SELECT asset_id,
                 least(greatest((1000 * yy + 1402 * (cr - 128) + 500)
                   // 1000, 0), 255) AS r,
                 least(greatest((1000 * yy - 344 * (cb - 128)
                   - 714 * (cr - 128) + 500) // 1000, 0), 255) AS g,
                 least(greatest((1000 * yy + 1772 * (cb - 128) + 500)
                   // 1000, 0), 255) AS b
          FROM px
        ),
        agg AS (
          SELECT asset_id, CAST(sum(r) AS BIGINT) AS sum_r,
                 CAST(sum(g) AS BIGINT) AS sum_g,
                 CAST(sum(b) AS BIGINT) AS sum_b
          FROM rgb GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_jpeg_progressive"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 9 + (doc_id % 8) * 5 AS w,
                 8 + (doc_id % 7) * 4 AS h
          FROM documents WHERE doc_id % 17 = 5
        ),
        px AS (
          SELECT asset_id,
                 (37 * ((i % w) // 8) + 71 * ((i // w) // 8)) % 256 AS yy,
                 (23 * ((i % w) // 8) + 41 * ((i // w) // 8)) % 256 AS cb,
                 (53 * ((i % w) // 8) + 13 * ((i // w) // 8)) % 256 AS cr
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        rgb AS (
          SELECT asset_id,
                 least(greatest((1000 * yy + 1402 * (cr - 128) + 500)
                   // 1000, 0), 255) AS r,
                 least(greatest((1000 * yy - 344 * (cb - 128)
                   - 714 * (cr - 128) + 500) // 1000, 0), 255) AS g,
                 least(greatest((1000 * yy + 1772 * (cb - 128) + 500)
                   // 1000, 0), 255) AS b
          FROM px
        ),
        agg AS (
          SELECT asset_id, CAST(sum(r) AS BIGINT) AS sum_r,
                 CAST(sum(g) AS BIGINT) AS sum_g,
                 CAST(sum(b) AS BIGINT) AS sum_b
          FROM rgb GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_flac_fixed"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 2 + doc_id % 4 AS nf,
                 1 + doc_id % 2 AS ch,
                 (doc_id % 50) * 20 - 500 AS base
          FROM documents WHERE doc_id % 10 = 7
        ),
        v AS (
          SELECT asset_id,
                 base + 11 * f.i + c.i + ((f.i % 9) - 4) * s.i
                   + CASE WHEN f.i % 3 = 2 THEN s.i * s.i ELSE 0 END
                   AS v
          FROM prm,
               UNNEST(range(nf)) AS f(i),
               UNNEST(range(ch)) AS c(i),
               UNNEST(range(64)) AS s(i)
        )
        SELECT asset_id,
               count(*) AS n_samples,
               CAST(sum(v) AS BIGINT) AS sum_amp,
               CAST(sum(v * v) AS BIGINT) AS sum_sq,
               CAST(max(abs(v)) AS BIGINT) AS peak
        FROM v GROUP BY asset_id
    """
    o["multimodal_flac_pcm"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 2 + doc_id % 5 AS nf,
                 1 + doc_id % 2 AS ch,
                 (doc_id % 120) * 250 - 15000 AS base
          FROM documents WHERE doc_id % 9 = 4
        ),
        v AS (
          SELECT asset_id, base + 37 * f.i + c.i AS v
          FROM prm, UNNEST(range(nf)) AS f(i), UNNEST(range(ch)) AS c(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(256 * count(*) AS BIGINT) AS n_samples,
                 CAST(256 * sum(v) AS BIGINT) AS sum_amp,
                 CAST(256 * sum(v * v) AS BIGINT) AS sum_sq,
                 CAST(max(abs(v)) AS BIGINT) AS peak
          FROM v GROUP BY asset_id
        )
        SELECT asset_id, n_samples, sum_amp, sum_sq, peak FROM agg
    """
    o["stream_snap_cdf"] = """
        WITH n AS (SELECT n_nationkey AS k FROM nation),
        feed AS (
          SELECT 0 AS v, 'insert' AS t, k FROM n WHERE k % 2 = 0
          UNION ALL
          SELECT 1, 'insert', k FROM n WHERE k % 2 = 1
          UNION ALL
          SELECT 2, 'delete', k FROM n WHERE k < 5
          UNION ALL
          SELECT 3, 'update_preimage', k FROM n
          WHERE k % 5 = 0 AND k >= 5
          UNION ALL
          SELECT 3, 'update_postimage', k FROM n
          WHERE k % 5 = 0 AND k >= 5
          UNION ALL
          SELECT 3, 'insert', k FROM n WHERE k % 5 = 0 AND k < 5
        )
        SELECT CAST(v AS BIGINT) AS _commit_version,
               t AS _change_type,
               count(*) AS n,
               CAST(sum(k) AS BIGINT) AS key_sum
        FROM feed GROUP BY v, t
    """
    o["multimodal_vp8_lossy"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 14 + (doc_id % 6) * 9 AS w,
                 9 + (doc_id % 5) * 8 AS h,
                 doc_id % 7 AS a
          FROM documents WHERE doc_id % 13 = 11
        ),
        mbs AS (
          SELECT asset_id, w, h, a,
                 i % ((w + 15) // 16) AS mx,
                 i // ((w + 15) // 16) AS my
          FROM prm,
               UNNEST(range(((w + 15) // 16) * ((h + 15) // 16)))
                 AS u(i)
        ),
        vals AS (
          SELECT asset_id,
                 LEAST(16, w - 16 * mx) * LEAST(16, h - 16 * my)
                   AS cnt,
                 (37 * mx + 71 * my + 29 * a) % 256 AS yy,
                 (23 * mx + 41 * my + 17 * a) % 256 AS cb,
                 (53 * mx + 13 * my + 11 * a) % 256 AS cr
          FROM mbs
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum(cnt * least(greatest(
                   (1000 * yy + 1402 * (cr - 128) + 500) // 1000,
                   0), 255)) AS BIGINT) AS sum_r,
                 CAST(sum(cnt * least(greatest(
                   (1000 * yy - 344 * (cb - 128) - 714 * (cr - 128)
                    + 500) // 1000, 0), 255)) AS BIGINT) AS sum_g,
                 CAST(sum(cnt * least(greatest(
                   (1000 * yy + 1772 * (cb - 128) + 500) // 1000,
                   0), 255)) AS BIGINT) AS sum_b
          FROM vals GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_vp8_bpred"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 18 + (doc_id % 5) * 11 AS w,
                 10 + (doc_id % 6) * 9 AS h,
                 doc_id % 7 AS a
          FROM documents WHERE doc_id % 13 = 5
        ),
        mbs AS (
          SELECT asset_id, w, h, a,
                 i % ((w + 15) // 16) AS mx,
                 i // ((w + 15) // 16) AS my
          FROM prm,
               UNNEST(range(((w + 15) // 16) * ((h + 15) // 16)))
                 AS u(i)
        ),
        vals AS (
          SELECT asset_id,
                 LEAST(16, w - 16 * mx) * LEAST(16, h - 16 * my)
                   AS cnt,
                 (37 * mx + 71 * my + 29 * a) % 256 AS yy,
                 (23 * mx + 41 * my + 17 * a) % 256 AS cb,
                 (53 * mx + 13 * my + 11 * a) % 256 AS cr
          FROM mbs
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum(cnt * least(greatest(
                   (1000 * yy + 1402 * (cr - 128) + 500) // 1000,
                   0), 255)) AS BIGINT) AS sum_r,
                 CAST(sum(cnt * least(greatest(
                   (1000 * yy - 344 * (cb - 128) - 714 * (cr - 128)
                    + 500) // 1000, 0), 255)) AS BIGINT) AS sum_g,
                 CAST(sum(cnt * least(greatest(
                   (1000 * yy + 1772 * (cb - 128) + 500) // 1000,
                   0), 255)) AS BIGINT) AS sum_b
          FROM vals GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_vp8l_predictor"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 14 + (doc_id % 6) * 9 AS w,
                 9 + (doc_id % 5) * 8 AS h,
                 doc_id % 7 AS a
          FROM documents WHERE doc_id % 13 = 4
        ),
        px AS (
          SELECT asset_id,
                 (13 * (i % w) + 29 * (i // w) + 5 * a) % 256 AS r,
                 (7 * (i % w) + 17 * (i // w) + 3 * a) % 256 AS g,
                 (11 * (i % w) + 23 * (i // w) + 7 * a) % 256 AS b
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id, CAST(sum(r) AS BIGINT) AS sum_r,
                 CAST(sum(g) AS BIGINT) AS sum_g,
                 CAST(sum(b) AS BIGINT) AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_vp8l_color"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 15 + (doc_id % 7) * 8 AS w,
                 10 + (doc_id % 5) * 9 AS h,
                 doc_id % 7 AS a
          FROM documents WHERE doc_id % 13 = 1
        ),
        px AS (
          SELECT asset_id,
                 (13 * (i % w) + 29 * (i // w) + 5 * a) % 256 AS r,
                 (7 * (i % w) + 17 * (i // w) + 3 * a) % 256 AS g,
                 (11 * (i % w) + 23 * (i // w) + 7 * a) % 256 AS b
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id, CAST(sum(r) AS BIGINT) AS sum_r,
                 CAST(sum(g) AS BIGINT) AS sum_g,
                 CAST(sum(b) AS BIGINT) AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_vp8l_bundled"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 12 + (doc_id % 7) * 8 AS w,
                 10 + (doc_id % 5) * 9 AS h,
                 doc_id % 7 AS a,
                 CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 4
                                 ELSE 16 END AS k
          FROM documents WHERE doc_id % 13 = 3
        ),
        px AS (
          SELECT asset_id,
                 ((i % w) + 2 * (i // w) + a) % k AS ki, a
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum((19 * ki + 31 * a) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((7 * ki + 5 * a) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((23 * ki + 11 * a) % 256) AS BIGINT)
                   AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_vp8l_bundled_palette"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 12 + (doc_id % 7) * 8 AS w,
                 10 + (doc_id % 5) * 9 AS h,
                 doc_id % 7 AS a,
                 CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 4
                                 ELSE 16 END AS k
          FROM documents WHERE doc_id % 13 = 5
        ),
        px AS (
          SELECT asset_id,
                 ((i % w) + 2 * (i // w) + a) % k AS ki, a
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum((19 * ki + 31 * a) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((7 * ki + 5 * a) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((23 * ki + 11 * a) % 256) AS BIGINT)
                   AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_exif"] = """
        SELECT doc_id AS asset_id,
               CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
               CAST(100 + (doc_id % 7) * 50 AS BIGINT) AS iso,
               CAST(320 + (doc_id % 9) * 160 AS BIGINT) AS px_w,
               CAST(240 + (doc_id % 6) * 120 AS BIGINT) AS px_h,
               CAST(2000 + doc_id % 25 AS BIGINT) AS year,
               'CAM' || CAST(doc_id % 5 AS VARCHAR) AS make
        FROM documents WHERE doc_id % 13 = 8
    """
    o["multimodal_exif_oriented"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 16 + (doc_id % 5) * 8 AS w,
                 8 + (doc_id % 4) * 8 AS h,
                 doc_id % 7 AS a,
                 1 + doc_id % 8 AS o
          FROM documents WHERE doc_id % 13 = 7
        ),
        px AS (
          SELECT asset_id,
                 (37 * ((i % w) // 8) + 71 * ((i // w) // 8)
                  + 13 * a) % 256 AS v,
                 i % w AS x, i // w AS y
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum(v) AS BIGINT) AS sum_px,
                 CAST(sum(v * (1 + x + 2 * y)) AS BIGINT) AS wsum
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(o AS BIGINT) AS orientation,
               CAST(w AS BIGINT) AS disp_w, CAST(h AS BIGINT) AS disp_h,
               agg.sum_px, agg.wsum
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_video_phash"] = """
        WITH prm AS (
          SELECT doc_id AS aid, 2 + doc_id % 3 AS nf
          FROM documents WHERE doc_id % 13 = 2
        ),
        fr AS (
          SELECT aid, CAST(f AS INT) AS frame_idx,
                 aid * 11 + f AS sid
          FROM prm, UNNEST(range(nf)) AS u(f)
        ),
        bits AS (
          SELECT aid, frame_idx, j,
            (((((sid // 4) * 37 + j * 101 + ((sid // 4) % 13) * j)
               % 97) % 2)
             + (CASE WHEN sid % 4 >= 1
                     AND j = 48 + (((sid % 4) * 7) % 15)
                THEN 1 ELSE 0 END)
             + (CASE WHEN sid % 4 >= 2
                     AND j = 48 + (((sid % 4) * 7 + 11) % 15)
                THEN 1 ELSE 0 END)
             + (CASE WHEN sid % 4 >= 3
                     AND j = 48 + (((sid % 4) * 7 + 22) % 15)
                THEN 1 ELSE 0 END)) % 2 AS b
          FROM fr, UNNEST(range(63)) AS v(j)
        )
        SELECT aid AS asset_id, frame_idx,
               CAST(sum(b * (CAST(1 AS BIGINT) << j)) AS BIGINT)
                 AS phash
        FROM bits GROUP BY 1, 2
    """
    o["multimodal_phash_pooled"] = """
        WITH ids AS (
          SELECT doc_id AS aid FROM documents WHERE doc_id % 13 = 5
        ),
        bits AS (
          SELECT aid, j,
            (((((aid // 4) * 37 + j * 101 + ((aid // 4) % 13) * j)
               % 97) % 2)
             + (CASE WHEN aid % 4 >= 1
                     AND j = 48 + (((aid % 4) * 7) % 15)
                THEN 1 ELSE 0 END)
             + (CASE WHEN aid % 4 >= 2
                     AND j = 48 + (((aid % 4) * 7 + 11) % 15)
                THEN 1 ELSE 0 END)
             + (CASE WHEN aid % 4 >= 3
                     AND j = 48 + (((aid % 4) * 7 + 22) % 15)
                THEN 1 ELSE 0 END)) % 2 AS b
          FROM ids, UNNEST(range(63)) AS u(j)
        )
        SELECT aid AS asset_id,
               CAST(sum(b * (CAST(1 AS BIGINT) << j)) AS BIGINT)
                 AS phash
        FROM bits GROUP BY aid
    """
    o["text_fix_mojibake"] = """
        SELECT doc_id,
               CASE doc_id % 6
                 WHEN 0 THEN 'CafÃ© ' || doc_id
                 WHEN 1 THEN 'donâ€™t stop ' || doc_id
                 WHEN 2 THEN 'plain ascii ' || doc_id
                 WHEN 3 THEN 'déjà vu ' || doc_id
                 WHEN 4 THEN 'mix Ã“k ' || doc_id
                 ELSE 'CafÃ© \U0001F600 ' || doc_id
               END AS text,
               CASE doc_id % 6
                 WHEN 0 THEN 'Café ' || doc_id
                 WHEN 1 THEN 'don’t stop ' || doc_id
                 WHEN 2 THEN 'plain ascii ' || doc_id
                 WHEN 3 THEN 'déjà vu ' || doc_id
                 WHEN 4 THEN 'mix Ók ' || doc_id
                 ELSE 'CafÃ© \U0001F600 ' || doc_id
               END AS fixed_text,
               doc_id % 6 IN (0, 1, 4) AS was_fixed
        FROM documents WHERE doc_id % 13 = 11
    """
    o["text_ccnet_buckets"] = r"""
        WITH lw AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS w
          FROM documents
        ),
        hits AS (
          SELECT doc_id, w,
                 len(list_filter(w, x -> list_contains(
                   ['der','die','und','das'], x))) AS h_de,
                 len(list_filter(w, x -> list_contains(
                   ['the','a','of','and'], x))) AS h_en,
                 len(list_filter(w, x -> list_contains(
                   ['el','los','que','de'], x))) AS h_es,
                 len(list_filter(w, x -> list_contains(
                   ['le','la','et','des'], x))) AS h_fr
          FROM lw
        ),
        lng AS (
          SELECT doc_id, w,
                 CASE
                   WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                   WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                   WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                   WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                   ELSE 'fr'
                 END AS lang
          FROM hits
        ),
        big AS (
          SELECT doc_id, lang, w[i] AS l, w[i + 1] AS r
          FROM lng, UNNEST(range(1, len(w))) AS u(i)
        ),
        dp AS (
          SELECT doc_id, lang, l, r, count(*) AS m
          FROM big GROUP BY 1, 2, 3, 4
        ),
        c AS (
          SELECT lang, l, r, count(*) AS n FROM big GROUP BY 1, 2, 3
        ),
        fwd AS (
          SELECT lang, l, CAST(sum(n) AS BIGINT) AS c1,
                 count(*) AS fwd_types
          FROM c GROUP BY 1, 2
        ),
        back AS (
          SELECT lang, r, count(*) AS back_types FROM c GROUP BY 1, 2
        ),
        tot AS (SELECT lang, count(*) AS t FROM c GROUP BY 1),
        s AS (
          SELECT dp.doc_id, dp.lang, dp.m,
                 CAST(round(ln(
                   CAST(4 * fwd.c1 * tot.t AS DOUBLE)
                   / ((4 * c.n - 3) * tot.t
                      + 3 * fwd.fwd_types * back.back_types)
                 ) * 10000) AS BIGINT) AS s
          FROM dp
          JOIN c USING (lang, l, r)
          JOIN fwd USING (lang, l)
          JOIN back USING (lang, r)
          JOIN tot USING (lang)
        ),
        docv AS (
          SELECT doc_id, lang,
                 CAST(sum(m) AS BIGINT) AS n_bigrams,
                 CAST((1000 * sum(m * s)) // (10000 * sum(m))
                   AS BIGINT) AS ppl_milli
          FROM s GROUP BY 1, 2
        ),
        hist AS (
          SELECT lang, ppl_milli AS v, count(*) AS cnt
          FROM docv GROUP BY 1, 2
        ),
        cum AS (
          SELECT lang, v,
                 sum(cnt) OVER (
                   PARTITION BY lang ORDER BY v
                   ROWS UNBOUNDED PRECEDING
                 ) AS cum
          FROM hist
        ),
        nl AS (SELECT lang, count(*) AS nd FROM docv GROUP BY 1),
        th AS (
          SELECT cum.lang,
                 min(CASE WHEN cum >= (nd + 2) // 3 THEN v END) AS t1,
                 min(CASE WHEN cum >= (2 * nd + 2) // 3 THEN v END)
                   AS t2
          FROM cum JOIN nl USING (lang) GROUP BY 1
        )
        SELECT d.doc_id, d.lang, d.n_bigrams, d.ppl_milli,
               CASE WHEN d.ppl_milli <= th.t1 THEN 'head'
                    WHEN d.ppl_milli <= th.t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM docv d JOIN th USING (lang)
    """
    o["text_kneser_ney"] = r"""
        WITH tok AS (
          SELECT string_split_regex(trim(lower(text)), '\s+') AS w
          FROM documents
        ),
        pairs AS (
          SELECT w[i] AS word, w[i + 1] AS next, count(*) AS n
          FROM tok, UNNEST(range(1, len(w))) AS u(i)
          GROUP BY 1, 2
        ),
        fwd AS (
          SELECT word, sum(n) AS c1, count(*) AS fwd_types
          FROM pairs GROUP BY 1
        ),
        head AS (
          SELECT * FROM fwd ORDER BY c1 DESC, word LIMIT 20
        ),
        back AS (
          SELECT next, count(*) AS back_types FROM pairs GROUP BY 1
        ),
        tot AS (SELECT count(*) AS t FROM pairs),
        s AS (
          SELECT p.word, p.next, p.n,
                 (4 * p.n - 3) * tot.t
                   + 3 * head.fwd_types * back.back_types AS num,
                 4 * head.c1 * tot.t AS den
          FROM pairs p
          JOIN head USING (word) JOIN back USING (next) CROSS JOIN tot
        )
        SELECT word, next, n,
               round(CAST(num AS DOUBLE) / den, 4) AS p_kn
        FROM s
        QUALIFY row_number() OVER (
          PARTITION BY word ORDER BY num DESC, next) <= 5
    """
    o["zip_members"] = """
        SELECT doc_id AS asset_id, CAST(i AS INTEGER) AS member_idx,
               CASE i WHEN 0 THEN 'a.txt' WHEN 1 THEN 'dir/b.bin'
                      ELSE 'c.txt' END AS member_name,
               CASE i WHEN 0 THEN 'stored' ELSE 'deflate' END
                 AS method,
               CAST(CASE i
                 WHEN 0 THEN length(repeat('alpha ' || doc_id || ' ',
                                           1 + doc_id % 3))
                 WHEN 1 THEN length(repeat('b' || doc_id || '!',
                                           2 + doc_id % 4))
                 ELSE length('gamma ' || doc_id) END AS BIGINT)
                 AS n_bytes,
               TRUE AS crc_ok
        FROM documents, UNNEST(range(3)) AS u(i)
        WHERE doc_id % 13 = 8
    """
    o["docx_extract_text"] = """
        WITH d AS (
          SELECT doc_id, 2 + doc_id % 3 AS n FROM documents
          WHERE doc_id % 13 = 9
        ),
        p AS (
          SELECT doc_id, n, i,
                 'para ' || i || ' d' || doc_id ||
                 CASE WHEN i % 2 = 0 THEN chr(9) ELSE chr(10) END ||
                 't' || i || ' &<' AS ptext
          FROM d, UNNEST(range(n)) AS u(i)
        )
        SELECT doc_id AS asset_id,
               string_agg(ptext, chr(10) ORDER BY i) AS text,
               CAST(any_value(n) AS INTEGER) AS n_paragraphs,
               CAST(length(string_agg(ptext, chr(10) ORDER BY i))
                    AS BIGINT) AS n_chars
        FROM p GROUP BY doc_id
    """
    o["bitext_length_gate"] = r"""
        WITH d AS (
          SELECT doc_id,
                 least(len(string_split_regex(trim(lower(text)),
                       '\s+')), 8 + doc_id % 5) AS sn,
                 CASE doc_id % 4
                   WHEN 1 THEN (8 + doc_id % 5) * 4
                   WHEN 2 THEN greatest(1, (8 + doc_id % 5) // 4)
                   ELSE 8 + doc_id % 5 + 1 END AS tn
          FROM documents WHERE doc_id % 13 = 9
        )
        SELECT doc_id, CAST(sn AS BIGINT) AS src_tokens,
               CAST(tn AS BIGINT) AS tgt_tokens,
               CAST(CASE WHEN sn > 0 THEN (1000 * tn) // sn
                    ELSE 0 END AS BIGINT) AS ratio_milli,
               sn > 0 AND tn > 0
                 AND (1000 * tn) // sn BETWEEN 333 AND 3000 AS keep
        FROM d
    """
    o["atom_parse"] = """
        WITH d AS (
          SELECT doc_id AS feed_id, 2 + doc_id % 2 AS n
          FROM documents WHERE doc_id % 13 = 7
        )
        SELECT feed_id, 'AF ' || feed_id AS feed_title,
               CAST(i AS INTEGER) AS entry_idx,
               'e' || i || ' f' || feed_id AS title,
               'https://a' || (feed_id % 7) || '.example/e/' || i
                 AS link,
               CAST(1705300200 + (feed_id + i) % 60 AS BIGINT)
                 AS updated_epoch,
               CASE WHEN i % 2 = 0
                    THEN CAST(1 + (feed_id + i) % 4 AS BIGINT)
               END AS summary_len
        FROM d, UNNEST(range(n)) AS u(i)
    """
    o["json_key_profile"] = """
        WITH d AS (
          SELECT doc_id FROM documents WHERE doc_id % 13 = 2
        ),
        s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0
                     END) AS BIGINT) AS evens
          FROM d
        )
        SELECT 'id' AS key, n AS n_docs, n AS n_int,
               CAST(0 AS BIGINT) AS n_float,
               CAST(0 AS BIGINT) AS n_bool,
               CAST(0 AS BIGINT) AS n_other FROM s
        UNION ALL SELECT 'name', n, 0, 0, 0, n FROM s
        UNION ALL SELECT 'score', evens, 0, evens, 0, 0 FROM s
        UNION ALL SELECT 'flag', n, 0, 0, n, 0 FROM s
    """
    o["text_normalize_punct"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 1
                    THEN 'plain ' || doc_id
                    ELSE '''x'' "y" ' || doc_id || ' -...'
               END AS norm,
               doc_id % 4 <> 1 AS was_changed
        FROM documents WHERE doc_id % 13 = 3
    """
    o["rss_parse"] = """
        WITH d AS (
          SELECT doc_id AS feed_id, 2 + doc_id % 2 AS n
          FROM documents WHERE doc_id % 13 = 4
        )
        SELECT feed_id, 'Feed ' || feed_id AS feed_title,
               CAST(i AS INTEGER) AS item_idx,
               'Item ' || i || ' f' || feed_id AS title,
               'https://f' || (feed_id % 7) || '.example/i/' || i
                 AS link,
               CAST(1705300200 + (feed_id + i) % 60 AS BIGINT)
                 AS pub_epoch,
               CASE WHEN i % 2 = 0
                    THEN CAST(1 + (feed_id + i) % 5 AS BIGINT)
               END AS desc_len
        FROM d, UNNEST(range(n)) AS u(i)
    """
    o["rank_bradley_terry"] = _bt_oracle()
    o["pref_pairs_build"] = """
        WITH r AS (
          SELECT doc_id AS prompt_id, CAST(c AS BIGINT) AS cand_id,
                 (doc_id + 7 * c) % 10 AS rating
          FROM documents, UNNEST(range(2 + doc_id % 3)) AS u(c)
          WHERE doc_id % 13 = 10
        ),
        hi AS (
          SELECT prompt_id, cand_id AS chosen_id,
                 rating AS chosen_rating
          FROM r QUALIFY row_number() OVER (
            PARTITION BY prompt_id
            ORDER BY rating DESC, cand_id) = 1
        ),
        lo AS (
          SELECT prompt_id, cand_id AS rejected_id,
                 rating AS rejected_rating
          FROM r QUALIFY row_number() OVER (
            PARTITION BY prompt_id
            ORDER BY rating, cand_id) = 1
        )
        SELECT prompt_id, chosen_id, rejected_id, chosen_rating,
               rejected_rating,
               chosen_rating - rejected_rating AS margin
        FROM hi JOIN lo USING (prompt_id)
        WHERE chosen_rating - rejected_rating > 0
    """
    o["label_cohen_kappa"] = """
        WITH l AS (
          SELECT doc_id % 3 AS a,
                 (doc_id + doc_id // 7) % 3 AS b
          FROM documents WHERE doc_id % 13 = 12
        ),
        cells AS (SELECT a, b, count(*) AS n FROM l GROUP BY a, b),
        am AS (SELECT a, sum(n) AS na FROM cells GROUP BY a),
        bm AS (SELECT b, sum(n) AS nb FROM cells GROUP BY b),
        ch AS (
          SELECT sum(na * nb) AS sum_ab
          FROM am JOIN bm ON am.a = bm.b
        ),
        o AS (
          SELECT sum(n) AS n_items,
                 sum(CASE WHEN a = b THEN n ELSE 0 END) AS n_agree
          FROM cells
        )
        SELECT CAST(n_items AS BIGINT) AS n_items,
               CAST(n_agree AS BIGINT) AS n_agree,
               round(CAST(n_items * n_agree - coalesce(sum_ab, 0)
                     AS DOUBLE)
                     / (n_items * n_items - coalesce(sum_ab, 0)), 4)
                 AS kappa
        FROM o, ch
    """
    o["text_repair_json"] = """
        SELECT doc_id,
               CASE doc_id % 5
                 WHEN 0 THEN '{"a": ' || doc_id || ', "b": [2, '
                   || (doc_id % 9) || ']}'
                 WHEN 1 THEN '{"k": "v' || doc_id || '{x"}'
                 WHEN 2 THEN '{"a": ' || doc_id || '}'
                 WHEN 3 THEN '{"a' || doc_id || '": null}'
                 ELSE '{"done": ' || doc_id || '}'
               END AS repaired,
               CAST(CASE doc_id % 5 WHEN 0 THEN 2 WHEN 1 THEN 2
                    WHEN 2 THEN 1 WHEN 3 THEN 1 ELSE 0 END
                    AS BIGINT) AS n_closed,
               doc_id % 5 <> 4 AS was_truncated,
               TRUE AS is_valid
        FROM documents WHERE doc_id % 13 = 11
    """
    o["text_lang_script_check"] = """
        SELECT doc_id, lang,
               CASE WHEN length(text) - length(regexp_replace(text,
                    '[A-Za-z]', '', 'g')) > 0 THEN 'latin'
                    ELSE 'und' END AS script,
               CASE WHEN lang = 'zh' THEN 'cjk' ELSE 'latin' END
                 AS expected_script,
               (CASE WHEN length(text) - length(regexp_replace(text,
                     '[A-Za-z]', '', 'g')) > 0 THEN 'latin'
                     ELSE 'und' END)
                 = (CASE WHEN lang = 'zh' THEN 'cjk'
                    ELSE 'latin' END) AS consistent
        FROM documents WHERE doc_id % 13 = 8
    """
    o["sim_binary_hamming"] = """
        WITH v AS (
          SELECT vec_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, 64),
                     i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
                          THEN 1 ELSE 0 END)),
                   (a, b) -> a * 2 + b) AS bits
          FROM embeddings
        ),
        q AS (SELECT vec_id AS q_id, bits AS qb FROM v
              WHERE vec_id < 8),
        s AS (
          SELECT q.q_id, v.vec_id AS n_id,
                 CAST(bit_count(xor(q.qb, v.bits)) AS BIGINT)
                   AS hamming
          FROM v CROSS JOIN q WHERE v.vec_id <> q.q_id
        )
        SELECT q_id, n_id, hamming FROM s
        QUALIFY row_number() OVER (
          PARTITION BY q_id ORDER BY hamming, n_id) <= 5
    """
    o["text_strip_markdown"] = """
        SELECT doc_id,
               'T' || doc_id || chr(10) || chr(10) || 'body b'
                 || doc_id || ' see l' || doc_id || chr(10)
                 || chr(10) || 'q' || doc_id AS plain
        FROM documents WHERE doc_id % 13 = 0
    """
    o["text_scrub_invisibles"] = """
        SELECT doc_id, 'xy' || doc_id AS clean,
               CAST(doc_id % 4 + CASE WHEN doc_id % 2 = 0 THEN 1
                    ELSE 0 END AS BIGINT) AS n_invisible
        FROM documents WHERE doc_id % 13 = 6
    """
    o["chat_lint"] = """
        WITH d AS (
          SELECT doc_id, 2 + doc_id % 3 AS n FROM documents
          WHERE doc_id % 13 = 5
        )
        SELECT doc_id AS conv_id, CAST(n AS BIGINT) AS n_turns,
               CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
                    AS BIGINT) AS n_role_violations,
               CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END
                    AS BIGINT) AS n_empty,
               CAST(n // 2 - CASE WHEN doc_id % 7 = 0 THEN 1
                    ELSE 0 END AS BIGINT) AS n_assistant,
               doc_id % 7 <> 0 AND doc_id % 11 <> 0 AS ok
        FROM d
    """
    o["sim_hard_negatives"] = f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE))
                   AS e
          FROM embeddings
        ),
        q AS (
          SELECT vec_id AS q_id, vec_id + 100 AS pos_id, e AS qe
          FROM v WHERE vec_id < 6
        ),
        s AS (
          SELECT q.q_id, q.pos_id, v.vec_id AS n_id,
                 {_cosine_sql('q.qe', 'v.e')} AS cos_sim
          FROM v CROSS JOIN q
          WHERE v.vec_id <> q.q_id AND v.vec_id <> q.pos_id
        )
        SELECT q_id, pos_id, n_id, cos_sim FROM s
        QUALIFY row_number() OVER (
          PARTITION BY q_id ORDER BY cos_sim DESC, n_id) <= 3
    """
    o["csv_sniff"] = """
        SELECT doc_id AS asset_id,
               CASE doc_id % 5 WHEN 0 THEN 'comma'
                    WHEN 1 THEN 'semicolon' WHEN 2 THEN 'tab'
                    WHEN 3 THEN 'pipe' ELSE 'unknown' END
                 AS delimiter,
               CAST(CASE doc_id % 5 WHEN 0 THEN 3 WHEN 1 THEN 3
                    WHEN 2 THEN 2 WHEN 3 THEN 3 ELSE 0 END
                    AS INTEGER) AS n_cols,
               doc_id % 5 IN (0, 3) AS has_header,
               CAST(CASE doc_id % 5 WHEN 0 THEN 3 ELSE 2 END
                    AS INTEGER) AS n_lines
        FROM documents WHERE doc_id % 13 = 9
    """
    o["frontier_build"] = """
        WITH u AS (
          SELECT doc_id, doc_id AS url_id,
                 'site' || (doc_id % 4) || '.example' AS domain,
                 CASE doc_id % 5
                   WHEN 0 THEN '/private/x' || (doc_id % 7)
                   WHEN 1 THEN '/p/' || (doc_id % 20)
                   WHEN 2 THEN '/private/ok'
                   WHEN 3 THEN '/static/img' || (doc_id % 3) || '.png'
                   ELSE '/p' END AS path
          FROM documents WHERE doc_id % 13 = 3
        ),
        a AS (
          SELECT * FROM u WHERE NOT (
            doc_id % 5 = 0
            OR (doc_id % 5 = 1 AND (doc_id % 20 = 1
                OR doc_id % 20 BETWEEN 10 AND 19))
            OR (doc_id % 5 = 3 AND doc_id % 4 IN (1, 3)
                AND doc_id % 3 = 1))
        ),
        s AS (
          SELECT url_id,
                 'example,site' || (doc_id % 4) || ')' || lower(path)
                   AS urlkey
          FROM a
        )
        SELECT urlkey, count(*) AS n_variants,
               min(url_id) AS canonical_url_id
        FROM s GROUP BY urlkey
    """
    o["text_span_corruption"] = rf"""
        WITH d AS (
          SELECT doc_id,
                 len(string_split_regex(trim(lower(text)), '\s+'))
                   AS n
          FROM documents WHERE doc_id % 13 = 3
        ),
        b AS (
          SELECT doc_id, n, n // 10 AS nb FROM d
        ),
        l AS (
          SELECT doc_id, n, nb,
                 CASE WHEN nb >= 1 THEN (
                   SELECT sum(1 + {portable_hash32_sql(
                       "b.doc_id || ':' || k")} % 3)
                   FROM UNNEST(range(1, nb + 1)) AS u(k)
                 ) ELSE 0 END AS n_masked
          FROM b
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
               CAST(nb AS BIGINT) AS n_spans,
               CAST(n_masked AS BIGINT) AS n_masked,
               CAST(n - n_masked + nb AS BIGINT) AS input_len,
               CAST(CASE WHEN nb > 0 THEN n_masked + nb + 1
                    ELSE 0 END AS BIGINT) AS target_len
        FROM l
    """
    o["sample_mixture_temperature"] = r"""
        WITH per AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(len(string_split_regex(trim(lower(text)),
                      '\s+'))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        ),
        tot AS (
          SELECT sum(pow(n_tokens, 0.5)) AS z,
                 sum(n_tokens) AS total FROM per
        )
        SELECT source, n_docs, n_tokens,
               round(pow(n_tokens, 0.5) / z, 4) AS weight,
               round(pow(n_tokens, 0.5) / z * total / n_tokens, 4)
                 AS epochs
        FROM per, tot
    """
    o["text_zipf_slope"] = r"""
        WITH c AS (
          SELECT w, count(*) AS n FROM (
            SELECT unnest(string_split_regex(trim(lower(text)),
                   '\s+')) AS w
            FROM documents
          ) WHERE len(w) > 0 GROUP BY w
        ),
        top AS (SELECT w, n FROM c ORDER BY n DESC, w LIMIT 200),
        r AS (
          SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, w)
                    AS DOUBLE)) AS x,
                 ln(CAST(n AS DOUBLE)) AS y
          FROM top
        ),
        a AS (
          SELECT CAST(count(*) AS DOUBLE) AS k, sum(x) AS sx,
                 sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM r
        )
        SELECT CAST(k AS BIGINT) AS n_types,
               round((k * sxy - sx * sy)
                     / (k * sxx - sx * sx), 4) AS slope,
               round((sy - (k * sxy - sx * sy)
                     / (k * sxx - sx * sx) * sx) / k, 4) AS intercept
        FROM a
    """
    o["chat_tree_paths"] = """
        WITH RECURSIVE d AS (
          SELECT doc_id FROM documents WHERE doc_id % 13 = 2
        ),
        m AS (
          SELECT doc_id AS conv_id, doc_id * 10 AS msg_id,
                 CAST(NULL AS BIGINT) AS parent_id, 'user' AS role,
                 'q ' || doc_id AS text FROM d
          UNION ALL SELECT doc_id, doc_id * 10 + 1, doc_id * 10,
                 'assistant', 'a1 ' || doc_id FROM d
          UNION ALL SELECT doc_id, doc_id * 10 + 2, doc_id * 10,
                 'assistant', 'a2 ' || doc_id FROM d
                 WHERE doc_id % 2 = 0
          UNION ALL SELECT doc_id, doc_id * 10 + 3, doc_id * 10 + 1,
                 'user', 'f ' || doc_id FROM d WHERE doc_id % 3 = 0
          UNION ALL SELECT doc_id, doc_id * 10 + 4, doc_id * 10 + 3,
                 'assistant', 'a3 ' || doc_id FROM d
                 WHERE doc_id % 3 = 0
        ),
        p AS (
          SELECT conv_id, msg_id AS leaf_msg_id, 1 AS depth,
                 text AS path_text,
                 CASE WHEN role = 'assistant' THEN 1 ELSE 0 END
                   AS n_assistant
          FROM m WHERE parent_id IS NULL
          UNION ALL
          SELECT c.conv_id, c.msg_id, p.depth + 1,
                 p.path_text || chr(10) || c.text,
                 p.n_assistant
                   + CASE WHEN c.role = 'assistant' THEN 1
                     ELSE 0 END
          FROM p JOIN m c ON c.parent_id = p.leaf_msg_id
        )
        SELECT p.conv_id, p.leaf_msg_id,
               CAST(p.depth AS INTEGER) AS depth, p.path_text,
               CAST(p.n_assistant AS INTEGER) AS n_assistant
        FROM p LEFT JOIN m k ON k.parent_id = p.leaf_msg_id
        WHERE k.msg_id IS NULL
    """
    o["multimodal_gif_anim"] = """
        WITH d AS (
          SELECT doc_id, 12 + doc_id % 5 AS w, 8 + doc_id % 3 AS h,
                 2 + doc_id % 2 AS n
          FROM documents WHERE doc_id % 13 = 0
        ),
        px AS (
          SELECT doc_id, n, x, y,
                 (x + y) % 4 = 3 AS trans, x + 2 * y AS base
          FROM d, UNNEST(range(w)) AS ux(x),
               UNNEST(range(h)) AS uy(y)
        ),
        f AS (
          SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
                 CASE WHEN fi = 0 THEN base
                      WHEN trans AND fi = 1 THEN base
                      WHEN trans AND fi = 2 THEN 0
                      ELSE base + fi END AS v
          FROM px, UNNEST(range(n)) AS uf(fi)
        )
        SELECT doc_id AS asset_id, frame_idx,
               CAST(10 * (frame_idx + 1) AS BIGINT) AS delay_cs,
               CAST(sum(v) AS BIGINT) AS sum_r,
               CAST(sum(2 * v) AS BIGINT) AS sum_g,
               CAST(sum(3 * v) AS BIGINT) AS sum_b
        FROM f GROUP BY doc_id, frame_idx
    """
    o["pack_bins_ffd"] = r"""
        WITH RECURSIVE sized AS (
          SELECT source,
                 doc_id,
                 CAST(len(string_split_regex(trim(lower(text)),
                      '\s+')) AS BIGINT) AS n_tokens
          FROM documents WHERE doc_id % 13 = 1
        ),
        rk AS (
          SELECT source, doc_id, n_tokens,
                 row_number() OVER (PARTITION BY source
                   ORDER BY n_tokens DESC, doc_id) AS rnk
          FROM sized
        ),
        steps AS (
          SELECT source, 0 AS rnk, CAST([] AS BIGINT[]) AS loads,
                 CAST([] AS INTEGER[]) AS bins
          FROM (SELECT DISTINCT source FROM rk)
          UNION ALL
          SELECT s.source, s.rnk + 1,
            CASE WHEN nullif(list_position(list_transform(s.loads,
                   l -> l + i.n_tokens <= 512), true), 0) IS NULL
                 THEN list_append(s.loads, i.n_tokens)
                 ELSE list_transform(range(1, len(s.loads) + 1), k ->
                   CASE WHEN k = list_position(list_transform(
                          s.loads, l -> l + i.n_tokens <= 512), true)
                        THEN s.loads[k] + i.n_tokens
                        ELSE s.loads[k] END) END,
            list_append(s.bins,
              CAST(coalesce(nullif(list_position(list_transform(
                     s.loads, l -> l + i.n_tokens <= 512), true), 0),
                   len(s.loads) + 1) - 1 AS INTEGER))
          FROM steps s
          JOIN rk i ON i.source = s.source AND i.rnk = s.rnk + 1
        ),
        final AS (
          SELECT source, loads, bins FROM steps s
          WHERE rnk = (SELECT max(rnk) FROM rk r
                       WHERE r.source = s.source)
        )
        SELECT i.source, i.doc_id, i.n_tokens,
               f.bins[i.rnk] AS bin_idx,
               f.loads[f.bins[i.rnk] + 1] AS bin_load
        FROM rk i JOIN final f USING (source)
    """
    o["sim_pca_power"] = _pca_power_oracle()
    o["web_anchors"] = """
        WITH d AS (
          SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS k,
                 2 + doc_id % 2 AS n
          FROM documents WHERE doc_id % 13 = 12
        )
        SELECT doc_id, CAST(i AS INTEGER) AS anchor_idx,
               CASE i
                 WHEN 0 THEN 'https://www.site' || k || '.example/p/'
                   || doc_id || '?b=2'
                 WHEN 1 THEN '/rel/' || doc_id
                 ELSE 'http://site' || k || '.example:8080/Z' || doc_id
               END AS href,
               CASE i
                 WHEN 0 THEN 'Go now ' || doc_id
                 WHEN 1 THEN 'About & r' || doc_id
                 ELSE 'UP'
               END AS anchor_text,
               CASE i
                 WHEN 0 THEN 'example,site' || k || ')/p/' || doc_id
                   || '?b=2'
                 WHEN 1 THEN NULL
                 ELSE 'example,site' || k || ':8080)/z' || doc_id
               END AS urlkey
        FROM d, UNNEST(range(n)) AS u(i)
    """
    o["text_blocklist"] = r"""
        WITH d AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS w
          FROM documents WHERE doc_id % 13 = 7
        ),
        m AS (
          SELECT doc_id,
                 len(list_filter(w, x -> x = 'agg')) AS nb,
                 len(list_filter(w, x -> x = 'batch' OR x = 'join'))
                   AS nf,
                 len(w) AS nw
          FROM d
        )
        SELECT doc_id,
               CAST(nb AS BIGINT) AS n_block_hits,
               CAST(nf AS BIGINT) AS n_flag_hits,
               CAST(CASE WHEN nw > 0 THEN (1000 * nf) // nw
                    ELSE 0 END AS BIGINT) AS flag_milli,
               nb = 0 AND (CASE WHEN nw > 0 THEN (1000 * nf) // nw
                           ELSE 0 END) <= 100 AS keep
        FROM m
    """
    o["text_bleu_rouge"] = r"""
        WITH d AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS w
          FROM documents WHERE doc_id % 13 = 5
        ),
        pair AS (
          SELECT doc_id,
                 list_concat(w[1 : greatest(1, (3 * len(w)) // 4)],
                             ['zzz']) AS cw,
                 w AS rw
          FROM d
        ),
        g AS (
          SELECT doc_id, cw, rw,
                 list_transform(range(1, len(cw)),
                   i -> cw[i] || ' ' || cw[i + 1]) AS cg,
                 list_transform(range(1, len(rw)),
                   i -> rw[i] || ' ' || rw[i + 1]) AS rg
          FROM pair
        ),
        m AS (
          SELECT doc_id,
                 coalesce(list_sum(list_transform(list_distinct(cw),
                   t -> least(len(list_filter(cw, x -> x = t)),
                              len(list_filter(rw, x -> x = t))))), 0)
                   AS m1,
                 len(cw) AS c1, len(rw) AS r1,
                 coalesce(list_sum(list_transform(list_distinct(cg),
                   t -> least(len(list_filter(cg, x -> x = t)),
                              len(list_filter(rg, x -> x = t))))), 0)
                   AS m2,
                 len(cg) AS c2, len(rg) AS r2
          FROM g
        )
        SELECT doc_id,
               round(m1 / greatest(c1, 1), 4) AS p1,
               round(m2 / greatest(c2, 1), 4) AS p2,
               round(CASE WHEN c1 >= r1 THEN 1.0
                     ELSE exp(1.0 - r1 / greatest(c1, 1)) END, 4)
                 AS bp,
               round((CASE WHEN c1 >= r1 THEN 1.0
                      ELSE exp(1.0 - r1 / greatest(c1, 1)) END)
                     * sqrt((m1 / greatest(c1, 1))
                            * (m2 / greatest(c2, 1))), 4) AS bleu2,
               round(m2 / greatest(r2, 1), 4) AS rouge2_recall,
               round(CASE WHEN m2 / greatest(c2, 1)
                               + m2 / greatest(r2, 1) > 0
                     THEN 2 * (m2 / greatest(c2, 1))
                            * (m2 / greatest(r2, 1))
                          / (m2 / greatest(c2, 1)
                             + m2 / greatest(r2, 1))
                     ELSE 0.0 END, 4) AS rouge2_f1
        FROM m
    """
    o["epub_extract_text"] = """
        WITH d AS (
          SELECT doc_id, 2 + doc_id % 2 AS n FROM documents
          WHERE doc_id % 13 = 10
        )
        SELECT doc_id AS asset_id, CAST(i AS INTEGER) AS spine_idx,
               'ch' || i || '.xhtml' AS href,
               'c' || i || ' Chapter ' || i || ' body d' || doc_id
                 || ' s' || i || ' & more' AS text,
               CAST(length('c' || i || ' Chapter ' || i || ' body d'
                 || doc_id || ' s' || i || ' & more') AS BIGINT)
                 AS n_chars
        FROM d, UNNEST(range(n)) AS u(i)
    """
    o["sim_maxsim_topk"] = """
        WITH bags AS (
          SELECT vec_id, list_transform(range(8), j ->
                   list_transform(embedding[(1 + 8*j):(8 + 8*j)],
                                  x -> CAST(x AS DOUBLE))) AS tv
          FROM embeddings
        ),
        s AS (
          SELECT q.vec_id AS q_id, c.vec_id AS n_id,
            round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(q.tv, qv -> list_max(
                list_transform(c.tv, dv ->
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(range(1, 9), i -> qv[i] * dv[i])),
                    (acc, v) -> acc + v))))),
              (acc2, v2) -> acc2 + v2), 4) AS maxsim
          FROM bags c CROSS JOIN bags q
          WHERE q.vec_id < 6 AND c.vec_id <> q.vec_id
        )
        SELECT q_id, n_id, maxsim FROM s
        QUALIFY row_number() OVER (
          PARTITION BY q_id ORDER BY maxsim DESC, n_id) <= 4
    """
    o["subtitles_parse"] = """
        WITH d AS (
          SELECT doc_id, 2 + doc_id % 3 AS n FROM documents
          WHERE doc_id % 13 = 6
        ),
        c AS (
          SELECT doc_id, CAST(i AS INTEGER) AS cue_idx,
                 (doc_id % 7 + 10 * i) * 1000 + 120 * i AS start_ms,
                 1500 + 100 * i AS dur, i
          FROM d, UNNEST(range(n)) AS u(i)
        )
        SELECT doc_id, cue_idx,
               CAST(start_ms AS BIGINT) AS start_ms,
               CAST(start_ms + dur AS BIGINT) AS end_ms,
               CAST(dur AS BIGINT) AS dur_ms,
               CASE WHEN i % 2 = 0
                    THEN 'cue ' || i || ' d' || doc_id
                    ELSE 'cue ' || i || chr(10) || 'more ' || doc_id
               END AS text,
               CAST(1 + i % 2 AS INTEGER) AS n_lines
        FROM c
    """
    o["text_script_profile"] = """
        SELECT doc_id,
               CAST(CASE doc_id % 6 WHEN 2 THEN 12 ELSE 0 END
                    AS BIGINT) AS n_arabic,
               CAST(CASE doc_id % 6 WHEN 3 THEN 4 WHEN 5 THEN 2
                    ELSE 0 END AS BIGINT) AS n_cjk,
               CAST(CASE doc_id % 6 WHEN 1 THEN 9 WHEN 5 THEN 3
                    ELSE 0 END AS BIGINT) AS n_cyrillic,
               CAST(0 AS BIGINT) AS n_devanagari,
               CAST(CASE doc_id % 6 WHEN 4 THEN 12 ELSE 0 END
                    AS BIGINT) AS n_greek,
               CAST(0 AS BIGINT) AS n_hangul,
               CAST(0 AS BIGINT) AS n_hebrew,
               CAST(0 AS BIGINT) AS n_kana,
               CAST(CASE doc_id % 6 WHEN 0 THEN 10 WHEN 5 THEN 5
                    ELSE 0 END AS BIGINT) AS n_latin,
               CASE doc_id % 6 WHEN 0 THEN 'latin'
                    WHEN 1 THEN 'cyrillic' WHEN 2 THEN 'arabic'
                    WHEN 3 THEN 'cjk' WHEN 4 THEN 'greek'
                    ELSE 'latin' END AS script,
               CAST(CASE WHEN doc_id % 6 = 5 THEN 500 ELSE 1000 END
                    AS BIGINT) AS script_milli
        FROM documents WHERE doc_id % 13 = 4
    """
    o["sitemap_parse"] = """
        WITH s AS (
          SELECT doc_id AS site_id, CAST(doc_id % 7 AS VARCHAR) AS k,
                 2 + doc_id % 3 AS n
          FROM documents WHERE doc_id % 13 = 2
        )
        SELECT site_id,
               'https://site' || k || '.example/p/' || i AS loc,
               CAST('2024-01-' || lpad(CAST(1 + (site_id + i) % 28
                    AS VARCHAR), 2, '0') AS DATE) AS lastmod,
               CASE WHEN i % 2 = 0
                    THEN round(CAST('0.' || (i % 10) AS DOUBLE), 4)
               END AS priority
        FROM s, UNNEST(range(n)) AS u(i)
    """
    o["multimodal_ogg_tags"] = """
        SELECT doc_id AS asset_id, 'synth-opus 1.0' AS vendor,
               'Track ' || doc_id AS title,
               'artist' || (doc_id % 5) AS artist,
               'album' || (doc_id % 3) AS album,
               CAST(1970 + doc_id % 30 AS BIGINT) AS date_year,
               CAST(1 + doc_id % 12 AS BIGINT) AS track,
               'en' AS language,
               CAST(240 + doc_id % 60 AS BIGINT) AS desc_len,
               CAST(100 * (1 + doc_id % 5) AS BIGINT) AS duration_ms
        FROM documents WHERE doc_id % 13 = 1
    """
    o["multimodal_mp3_id3"] = """
        SELECT doc_id AS asset_id,
               CAST(3 + doc_id % 2 AS BIGINT) AS id3_version,
               'Song ' || doc_id AS title,
               'artist' || (doc_id % 5) AS artist,
               'album' || (doc_id % 3) AS album,
               CAST(1970 + doc_id % 30 AS BIGINT) AS year,
               CAST(1 + doc_id % 12 AS BIGINT) AS track,
               CAST((2 + doc_id % 4) * 1152 * 1000 // 44100 AS BIGINT)
                 AS duration_ms
        FROM documents WHERE doc_id % 13 = 12
    """
    o["chat_template_spans"] = """
        WITH d AS (
          SELECT doc_id, 1 + doc_id % 3 AS mx
          FROM documents WHERE doc_id % 13 = 10
        ),
        t AS (
          SELECT doc_id AS conv_id, CAST(turn AS INTEGER) AS turn,
                 CASE WHEN turn % 2 = 0 THEN 'user'
                      ELSE 'assistant' END AS role,
                 'msg ' || doc_id || ' ' || turn
                   || repeat('y', CAST((doc_id + turn) % 9 AS INTEGER))
                   AS content
          FROM d, UNNEST(range(mx + 1)) AS u(turn)
        ),
        s AS (
          SELECT conv_id, turn, role,
                 LENGTH('<|' || role || '|>' || content || '<|end|>')
                   AS seg_len
          FROM t
        )
        SELECT conv_id, turn, role,
               CAST(COALESCE(SUM(seg_len) OVER (
                 PARTITION BY conv_id ORDER BY turn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS start_char,
               CAST(SUM(seg_len) OVER (
                 PARTITION BY conv_id ORDER BY turn
               ) AS BIGINT) AS end_char,
               role = 'assistant' AS in_loss
        FROM s
    """
    o["webdataset_roundtrip"] = """
        WITH d AS (
          SELECT doc_id, doc_id % 4 AS shard_id,
                 lpad(CAST(doc_id AS VARCHAR), 6, '0') AS key
          FROM documents WHERE doc_id % 13 = 5
        ),
        m AS (
          SELECT shard_id, key, 'txt' AS ext,
                 'doc ' || doc_id || ' '
                   || repeat('x', CAST(doc_id % 20 AS INTEGER))
                   AS content
          FROM d
          UNION ALL
          SELECT shard_id, key, 'cls', CAST(doc_id % 10 AS VARCHAR)
          FROM d
          UNION ALL
          SELECT shard_id, key, 'json', '{"id":' || doc_id || '}'
          FROM d
        )
        SELECT shard_id, key, ext,
               CAST(LENGTH(content) AS BIGINT) AS n_bytes, content
        FROM m
    """
    o["text_main_content"] = """
        WITH d AS (
          SELECT doc_id, 5 + doc_id % 7 AS n2, 14 + doc_id % 5 AS n4
          FROM documents WHERE doc_id % 13 = 0
        )
        SELECT doc_id, CAST(1 AS INTEGER) AS block_idx,
               'Home More links here' AS block_text,
               CAST(20 AS BIGINT) AS n_chars,
               CAST(20 AS BIGINT) AS link_chars, FALSE AS kept
        FROM d
        UNION ALL
        SELECT doc_id, CAST(3 AS INTEGER),
               rtrim(repeat('w ', CAST(n2 AS INTEGER))) || ' end',
               CAST(2 * n2 + 3 AS BIGINT), CAST(0 AS BIGINT), TRUE
        FROM d
        UNION ALL
        SELECT doc_id, CAST(5 AS INTEGER), 'hi',
               CAST(2 AS BIGINT), CAST(0 AS BIGINT), FALSE
        FROM d
        UNION ALL
        SELECT doc_id, CAST(7 AS INTEGER),
               rtrim(repeat('t ', CAST(n4 AS INTEGER)))
                 || ' click here tail',
               CAST(2 * n4 + 15 AS BIGINT), CAST(11 AS BIGINT), TRUE
        FROM d
    """
    o["multimodal_flac_tags"] = """
        SELECT doc_id AS asset_id, 'synth-flac 1.0' AS vendor,
               'Track ' || doc_id AS title,
               'artist' || (doc_id % 5) AS artist,
               'album' || (doc_id % 3) AS album,
               CAST(1970 + doc_id % 30 AS BIGINT) AS date_year,
               CAST(1 + doc_id % 12 AS BIGINT) AS track,
               'en' AS language, CAST(7 AS BIGINT) AS n_tags,
               CAST(1000 + doc_id % 500 AS BIGINT) AS duration_ms
        FROM documents WHERE doc_id % 13 = 8
    """
    o["cdx_surt_index"] = """
        WITH d AS (
          SELECT doc_id, CAST(doc_id % 9 AS VARCHAR) AS k
          FROM documents WHERE doc_id % 13 = 7
        )
        SELECT
          CASE doc_id % 6
            WHEN 0 THEN 'com,example,site' || k || ')/a/b'
            WHEN 1 THEN 'com,example,site' || k || ')/x?a=1&b=2'
            WHEN 2 THEN 'com,example,site' || k || ')/'
            WHEN 3 THEN 'com,example,site' || k || ')/path/q?a=0&m=3&z=9'
            WHEN 4 THEN 'com,example,site' || k || ':8080)/p'
            ELSE 'com,example,site' || k || ')/a'
          END AS urlkey,
          CAST(20240101000000 + doc_id AS BIGINT) AS ts,
          CASE doc_id % 6
            WHEN 0 THEN 'https://WWW.Site' || k || '.Example.com/A/b'
            WHEN 1 THEN 'http://site' || k || '.example.com:80/x?b=2&a=1'
            WHEN 2 THEN 'https://site' || k || '.example.com:443/'
            WHEN 3 THEN 'https://user@site' || k
                        || '.example.com/Path/Q?z=9&m=3&a=0'
            WHEN 4 THEN 'http://site' || k || '.example.com:8080/p'
            ELSE 'https://site' || k || '.example.com/a#frag'
          END AS url,
          'text/html' AS mime,
          CAST(CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS BIGINT)
            AS status,
          'sha1:' || doc_id AS digest,
          CAST(100 + doc_id % 900 AS BIGINT) AS length,
          CAST(doc_id * 1000 AS BIGINT) AS "offset",
          'crawl-' || (doc_id % 10) || '.warc.gz' AS filename
        FROM d
    """
    o["robots_gate"] = """
        WITH u AS (
          SELECT doc_id,
                 doc_id AS url_id,
                 'site' || (doc_id % 4) || '.example' AS domain,
                 CASE doc_id % 5
                   WHEN 0 THEN '/private/x' || (doc_id % 7)
                   WHEN 1 THEN '/p/' || (doc_id % 20)
                   WHEN 2 THEN '/private/ok'
                   WHEN 3 THEN '/static/img' || (doc_id % 3) || '.png'
                   ELSE '/p' END AS path
          FROM documents WHERE doc_id % 13 = 3
        )
        SELECT url_id, domain, path,
               CASE
                 WHEN doc_id % 5 = 0 THEN FALSE
                 WHEN doc_id % 5 = 1 AND (doc_id % 20 = 1
                      OR doc_id % 20 BETWEEN 10 AND 19) THEN FALSE
                 WHEN doc_id % 5 = 3 AND doc_id % 4 IN (1, 3)
                      AND doc_id % 3 = 1 THEN FALSE
                 ELSE TRUE
               END AS allowed,
               CASE
                 WHEN doc_id % 5 = 0 THEN '/private*'
                 WHEN doc_id % 5 = 2 THEN '/private/ok$'
                 WHEN doc_id % 5 = 1 AND (doc_id % 20 = 1
                      OR doc_id % 20 BETWEEN 10 AND 19) THEN '/p/1*'
                 WHEN doc_id % 5 = 3 AND doc_id % 4 IN (1, 3)
                      AND doc_id % 3 = 1 THEN '*img1*'
                 ELSE NULL
               END AS rule
        FROM u
    """
    o["pdf_extract_text"] = """
        WITH prm AS (
          SELECT doc_id AS aid, 1 + doc_id % 3 AS n_pages
          FROM documents WHERE doc_id % 13 = 6
        ),
        pg AS (
          SELECT aid, p,
                 'Doc (' || aid || ') page ' || p || '.' || chr(10)
                   || 'seg' || aid || ' end' || p AS text
          FROM prm, UNNEST(range(n_pages)) AS u(p)
        )
        SELECT aid AS asset_id, CAST(p AS INTEGER) AS page_idx,
               text, CAST(LENGTH(text) AS BIGINT) AS n_chars
        FROM pg
    """
    o["warc_parse"] = """
        WITH prm AS (
          SELECT doc_id AS aid, 2 + doc_id % 3 AS n_rec
          FROM documents WHERE doc_id % 13 = 4
        ),
        info AS (
          SELECT aid AS asset_id, CAST(0 AS INTEGER) AS record_idx,
                 'warcinfo' AS warc_type,
                 CAST(NULL AS VARCHAR) AS target_uri,
                 CAST(NULL AS BIGINT) AS http_status,
                 CAST(NULL AS VARCHAR) AS http_content_type,
                 CAST(37 AS BIGINT) AS body_len
          FROM prm
        ),
        resp AS (
          SELECT aid AS asset_id, CAST(r AS INTEGER) AS record_idx,
                 'response' AS warc_type,
                 'https://site' || (aid % 7) || '.example/p/' || r
                   AS target_uri,
                 CAST(CASE WHEN (aid + r) % 5 = 0 THEN 404 ELSE 200 END
                      AS BIGINT) AS http_status,
                 'text/html; charset=utf-8' AS http_content_type,
                 CAST(LENGTH('<html><head><title>d' || aid
                      || '</title></head><body><p>'
                      || repeat('tok ', CAST(r AS INTEGER)) || 'p' || aid
                      || ' r' || r || '</p></body></html>') AS BIGINT)
                   AS body_len
          FROM prm, UNNEST(range(1, n_rec + 1)) AS u(r)
        )
        SELECT * FROM info UNION ALL SELECT * FROM resp
    """
    o["warc_html_text"] = """
        WITH prm AS (
          SELECT doc_id AS aid, 2 + doc_id % 3 AS n_rec
          FROM documents WHERE doc_id % 13 = 4
        )
        SELECT aid AS asset_id, CAST(r AS INTEGER) AS record_idx,
               'https://site' || (aid % 7) || '.example/p/' || r
                 AS target_uri,
               'd' || aid || ' ' || repeat('tok ', CAST(r AS INTEGER))
                 || 'p' || aid || ' r' || r AS clean_text,
               CAST(r + 3 AS BIGINT) AS n_words
        FROM prm, UNNEST(range(1, n_rec + 1)) AS u(r)
        WHERE (aid + r) % 5 <> 0
    """
    o["multimodal_resize_box"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 doc_id % 3 AS a, (doc_id // 3) % 3 AS b,
                 10 + doc_id % 50 AS c,
                 CASE WHEN doc_id % 2 = 0 THEN 48 ELSE 56 END AS w1,
                 CASE WHEN doc_id % 2 = 0 THEN 40 ELSE 24 END AS h1
          FROM documents WHERE doc_id % 13 = 9
        ),
        sx AS (
          SELECT asset_id, j,
                 SUM(x * GREATEST(0, LEAST((j + 1) * w1, (x + 1) * 32)
                     - GREATEST(j * w1, x * 32))) AS mx
          FROM prm, UNNEST(range(32)) AS uj(j),
               UNNEST(range(w1)) AS ux(x)
          GROUP BY asset_id, j
        ),
        sy AS (
          SELECT asset_id, i,
                 SUM(y * GREATEST(0, LEAST((i + 1) * h1, (y + 1) * 32)
                     - GREATEST(i * h1, y * 32))) AS my
          FROM prm, UNNEST(range(32)) AS ui(i),
               UNNEST(range(h1)) AS uy(y)
          GROUP BY asset_id, i
        ),
        px AS (
          SELECT p.asset_id, s1.j, s2.i, p.w1, p.h1,
                 (p.a * s1.mx * p.h1 + p.b * s2.my * p.w1
                  + p.c * p.w1 * p.h1 + (p.w1 * p.h1) // 2)
                 // (p.w1 * p.h1) AS v
          FROM prm p
          JOIN sx s1 ON s1.asset_id = p.asset_id
          JOIN sy s2 ON s2.asset_id = p.asset_id
        )
        SELECT asset_id,
               CAST(MIN(w1) AS BIGINT) AS in_width,
               CAST(MIN(h1) AS BIGINT) AS in_height,
               CAST(32 AS BIGINT) AS out_width,
               CAST(32 AS BIGINT) AS out_height,
               CAST(SUM(v) AS BIGINT) AS px_sum,
               CAST(SUM(v * (1 + j + 2 * i)) AS BIGINT) AS px_checksum
        FROM px
        GROUP BY asset_id
    """
    o["multimodal_audio_fp_dedup"] = """
        WITH ids AS (
          SELECT doc_id // 13 AS aid FROM documents WHERE doc_id % 13 = 12
        ),
        bits AS (
          SELECT aid, j,
            (((((aid // 4) * 53 + j * 89 + ((aid // 4) % 11) * j)
               % 101) % 2)
             + (CASE WHEN aid % 4 >= 1
                     AND j = 48 + (((aid % 4) * 5) % 15)
                THEN 1 ELSE 0 END)
             + (CASE WHEN aid % 4 >= 2
                     AND j = 48 + (((aid % 4) * 5 + 13) % 15)
                THEN 1 ELSE 0 END)
             + (CASE WHEN aid % 4 >= 3
                     AND j = 48 + (((aid % 4) * 5 + 26) % 15)
                THEN 1 ELSE 0 END)) % 2 AS b
          FROM ids, UNNEST(range(63)) AS u(j)
        ),
        hs AS (
          SELECT aid,
                 CAST(sum(b * (CAST(1 AS BIGINT) << j)) AS BIGINT)
                   AS h
          FROM bits GROUP BY aid
        )
        SELECT id_a, id_b, hamming FROM (
          SELECT a.aid AS id_a, b.aid AS id_b,
                 CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
          FROM hs a JOIN hs b ON a.aid < b.aid
          WHERE ((a.h >> 0) & 65535) = ((b.h >> 0) & 65535)
             OR ((a.h >> 16) & 65535) = ((b.h >> 16) & 65535)
             OR ((a.h >> 32) & 65535) = ((b.h >> 32) & 65535)
             OR ((a.h >> 48) & 65535) = ((b.h >> 48) & 65535)
        ) WHERE hamming <= 6
    """
    o["multimodal_exif_gps"] = """
        SELECT doc_id AS asset_id,
               CAST((CASE WHEN doc_id % 2 = 1 THEN -1 ELSE 1 END) *
               ((doc_id % 90) * 3600000
                + ((doc_id * 7) % 60) * 60000
                + (doc_id * 13) % 60000) AS BIGINT) AS lat_mas,
               CAST((CASE WHEN doc_id % 3 = 0 THEN -1 ELSE 1 END) *
               (((doc_id * 3) % 180) * 3600000
                + ((doc_id * 11) % 60) * 60000
                + (doc_id * 17) % 60000) AS BIGINT) AS lon_mas,
               CAST(1000000 // (CASE doc_id % 5
                 WHEN 0 THEN 125 WHEN 1 THEN 200 WHEN 2 THEN 250
                 WHEN 3 THEN 500 ELSE 1000 END) AS BIGINT)
                 AS exposure_us,
               CAST((14 + (doc_id % 9) * 3) * 10 AS BIGINT)
                 AS fnum_x100
        FROM documents WHERE doc_id % 13 = 1
    """
    o["multimodal_phash_dedup"] = """
        WITH ids AS (
          SELECT doc_id // 13 AS aid FROM documents WHERE doc_id % 13 = 11
        ),
        bits AS (
          SELECT aid, j,
            (((((aid // 4) * 37 + j * 101 + ((aid // 4) % 13) * j)
               % 97) % 2)
             + (CASE WHEN aid % 4 >= 1
                     AND j = 48 + (((aid % 4) * 7) % 15)
                THEN 1 ELSE 0 END)
             + (CASE WHEN aid % 4 >= 2
                     AND j = 48 + (((aid % 4) * 7 + 11) % 15)
                THEN 1 ELSE 0 END)
             + (CASE WHEN aid % 4 >= 3
                     AND j = 48 + (((aid % 4) * 7 + 22) % 15)
                THEN 1 ELSE 0 END)) % 2 AS b
          FROM ids, UNNEST(range(63)) AS u(j)
        ),
        hs AS (
          SELECT aid,
                 CAST(sum(b * (CAST(1 AS BIGINT) << j)) AS BIGINT)
                   AS h
          FROM bits GROUP BY aid
        )
        SELECT id_a, id_b, hamming FROM (
          SELECT a.aid AS id_a, b.aid AS id_b,
                 CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
          FROM hs a JOIN hs b ON a.aid < b.aid
          WHERE ((a.h >> 0) & 65535) = ((b.h >> 0) & 65535)
             OR ((a.h >> 16) & 65535) = ((b.h >> 16) & 65535)
             OR ((a.h >> 32) & 65535) = ((b.h >> 32) & 65535)
             OR ((a.h >> 48) & 65535) = ((b.h >> 48) & 65535)
        ) WHERE hamming <= 6
    """
    o["multimodal_webp_alpha"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 18 + (doc_id % 6) * 7 AS w,
                 10 + (doc_id % 5) * 9 AS h,
                 doc_id % 7 AS a
          FROM documents WHERE doc_id % 13 = 10
        ),
        apx AS (
          SELECT asset_id,
                 CAST(sum((13 * (i % w) + 7 * (i // w) + 5 * a)
                          % 256) AS BIGINT) AS sum_a
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id
        ),
        mbs AS (
          SELECT asset_id, w, h, a,
                 i % ((w + 15) // 16) AS mx,
                 i // ((w + 15) // 16) AS my
          FROM prm,
               UNNEST(range(((w + 15) // 16) * ((h + 15) // 16)))
                 AS u(i)
        ),
        vals AS (
          SELECT asset_id,
                 LEAST(16, w - 16 * mx) * LEAST(16, h - 16 * my)
                   AS cnt,
                 (37 * mx + 71 * my + 29 * a) % 256 AS yy,
                 (23 * mx + 41 * my + 17 * a) % 256 AS cb,
                 (53 * mx + 13 * my + 11 * a) % 256 AS cr
          FROM mbs
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum(cnt * least(greatest(
                   (1000 * yy + 1402 * (cr - 128) + 500) // 1000,
                   0), 255)) AS BIGINT) AS sum_r,
                 CAST(sum(cnt * least(greatest(
                   (1000 * yy - 344 * (cb - 128) - 714 * (cr - 128)
                    + 500) // 1000, 0), 255)) AS BIGINT) AS sum_g,
                 CAST(sum(cnt * least(greatest(
                   (1000 * yy + 1772 * (cb - 128) + 500) // 1000,
                   0), 255)) AS BIGINT) AS sum_b
          FROM vals GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               apx.sum_a, agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN apx USING (asset_id)
                 JOIN agg USING (asset_id)
    """
    o["multimodal_webp_anim"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 8 + (doc_id % 7) * 5 AS w,
                 12 + (doc_id % 5) * 6 AS h,
                 doc_id % 7 AS a,
                 2 + (doc_id % 4) AS k
          FROM documents WHERE doc_id % 13 = 4
        ),
        px AS (
          SELECT asset_id, i % w AS x, i // w AS y,
                 CASE WHEN (i // w) <= 2 * (k - 2) + 2
                      THEN LEAST((i // w) // 2 + 1, k - 1)
                      ELSE 0 END AS kb,
                 a
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum((19 * x + 23 * y + 7 * kb + 31 * a) % 256)
                      AS BIGINT) AS sum_r,
                 CAST(sum((7 * x + 11 * y + 13 * kb + 5 * a) % 256)
                      AS BIGINT) AS sum_g,
                 CAST(sum((23 * x + 3 * y + 17 * kb + 11 * a) % 256)
                      AS BIGINT) AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_webp_anim_lossy"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 32 + (doc_id % 3) * 16 AS w,
                 32 + (doc_id % 2) * 16 AS h,
                 doc_id % 7 AS a,
                 2 * (doc_id % 5) AS ox,
                 2 * (doc_id % 3) AS oy,
                 16 + (doc_id % 2) * 8 AS fw,
                 16 AS fh
          FROM documents WHERE doc_id % 13 = 3
        ),
        px AS (
          SELECT asset_id, a, ox, oy, fw, fh,
                 i % w AS x, i // w AS y
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        ch AS (
          SELECT asset_id,
            least(greatest((1000 * ((37 * (x // 16) + 71 * (y // 16)
              + 29 * a) % 256) + 1402 * (((53 * (x // 16)
              + 13 * (y // 16) + 11 * a) % 256) - 128) + 500)
              // 1000, 0), 255) AS r1,
            least(greatest((1000 * ((37 * (x // 16) + 71 * (y // 16)
              + 29 * a) % 256) - 344 * (((23 * (x // 16)
              + 41 * (y // 16) + 17 * a) % 256) - 128)
              - 714 * (((53 * (x // 16) + 13 * (y // 16)
              + 11 * a) % 256) - 128) + 500) // 1000, 0), 255) AS g1,
            least(greatest((1000 * ((37 * (x // 16) + 71 * (y // 16)
              + 29 * a) % 256) + 1772 * (((23 * (x // 16)
              + 41 * (y // 16) + 17 * a) % 256) - 128) + 500)
              // 1000, 0), 255) AS b1,
            CASE WHEN x >= ox AND x < ox + fw
                  AND y >= oy AND y < oy + fh
                 THEN 1 ELSE 0 END AS inr,
            least(greatest((1000 * ((41 * ((x - ox) // 16)
              + 19 * ((y - oy) // 16) + 7 * a) % 256)
              + 1402 * (((17 * ((x - ox) // 16) + 37 * ((y - oy) // 16)
              + 31 * a) % 256) - 128) + 500) // 1000, 0), 255) AS r2,
            least(greatest((1000 * ((41 * ((x - ox) // 16)
              + 19 * ((y - oy) // 16) + 7 * a) % 256)
              - 344 * (((29 * ((x - ox) // 16) + 53 * ((y - oy) // 16)
              + 23 * a) % 256) - 128)
              - 714 * (((17 * ((x - ox) // 16) + 37 * ((y - oy) // 16)
              + 31 * a) % 256) - 128) + 500) // 1000, 0), 255) AS g2,
            least(greatest((1000 * ((41 * ((x - ox) // 16)
              + 19 * ((y - oy) // 16) + 7 * a) % 256)
              + 1772 * (((29 * ((x - ox) // 16) + 53 * ((y - oy) // 16)
              + 23 * a) % 256) - 128) + 500) // 1000, 0), 255) AS b2,
            (13 * (x - ox) + 7 * (y - oy) + 5 * a) % 256 AS al
          FROM px
        ),
        agg AS (
          SELECT asset_id,
            CAST(sum(CASE WHEN inr = 1
              THEN (r2 * al + r1 * (255 - al)) // 255
              ELSE r1 END) AS BIGINT) AS sum_r,
            CAST(sum(CASE WHEN inr = 1
              THEN (g2 * al + g1 * (255 - al)) // 255
              ELSE g1 END) AS BIGINT) AS sum_g,
            CAST(sum(CASE WHEN inr = 1
              THEN (b2 * al + b1 * (255 - al)) // 255
              ELSE b1 END) AS BIGINT) AS sum_b
          FROM ch GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_vp8l_dist"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 12 + (doc_id % 7) * 4 AS w,
                 9 + (doc_id % 5) * 8 AS h,
                 doc_id % 7 AS a
          FROM documents WHERE doc_id % 13 = 9
        ),
        px AS (
          SELECT asset_id, (i % w) % 4 AS j, a
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum((19 * j + 31 * a) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((7 * j + 5 * a) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((23 * j + 11 * a) % 256) AS BIGINT)
                   AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_vp8l_palette"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 13 + (doc_id % 7) * 9 AS w,
                 11 + (doc_id % 5) * 7 AS h,
                 doc_id % 7 AS a,
                 24 + (doc_id % 7) * 8 AS k
          FROM documents WHERE doc_id % 13 = 6
        ),
        px AS (
          SELECT asset_id,
                 ((i % w) + 2 * (i // w) + a) % k AS ki, a
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum((19 * ki + 31 * a) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((7 * ki + 5 * a) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((23 * ki + 11 * a) % 256) AS BIGINT)
                   AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_vp8l_meta"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 16 + (doc_id % 6) * 8 AS w,
                 9 + (doc_id % 5) * 10 AS h,
                 doc_id % 7 AS a
          FROM documents WHERE doc_id % 13 = 0
        ),
        px AS (
          SELECT asset_id,
                 (5 * (i % w) + 3 * (i // w) + a) % 256 AS r,
                 (3 * (i % w) + 7 * (i // w) + a) % 128
                 + 128 * (CASE WHEN ((i % w) // 4)
                               >= ((w + 3) // 4) // 2
                          THEN 1 ELSE 0 END) AS g,
                 (9 * (i % w) + (i // w) + a) % 256 AS b
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id, CAST(sum(r) AS BIGINT) AS sum_r,
                 CAST(sum(g) AS BIGINT) AS sum_g,
                 CAST(sum(b) AS BIGINT) AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_vp8_segments"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 21 + (doc_id % 5) * 13 AS w,
                 12 + (doc_id % 6) * 11 AS h,
                 doc_id % 7 AS a
          FROM documents WHERE doc_id % 13 = 12
        ),
        mbs AS (
          SELECT asset_id, w, h, a,
                 i % ((w + 15) // 16) AS mx,
                 i // ((w + 15) // 16) AS my
          FROM prm,
               UNNEST(range(((w + 15) // 16) * ((h + 15) // 16)))
                 AS u(i)
        ),
        -- chroma is 128 everywhere, so R=G=B=Y exactly
        agg AS (
          SELECT asset_id,
                 CAST(sum(LEAST(16, w - 16 * mx)
                          * LEAST(16, h - 16 * my)
                          * ((37 * mx + 71 * my + 29 * a) % 256))
                      AS BIGINT) AS s
          FROM mbs GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.s AS sum_r, agg.s AS sum_g, agg.s AS sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_vp8_lf_delta"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 16 + (doc_id % 6) * 8 AS w,
                 24 + (doc_id % 5) * 16 AS h,
                 90 + (doc_id % 40) AS base
          FROM documents WHERE doc_id % 13 = 2
        ),
        yrows AS (
          SELECT asset_id, w, h, base, i AS y,
                 i // 16 AS k, i % 16 AS r,
                 h // 16 AS kmax
          FROM prm, UNNEST(range(h)) AS u(i)
        ),
        pat AS (
          SELECT *,
                 CASE (k % 4) WHEN 0 THEN 0 WHEN 1 THEN 3
                              WHEN 2 THEN 1 ELSE 2 END AS pk,
                 CASE ((k + 3) % 4) WHEN 0 THEN 0 WHEN 1 THEN 3
                              WHEN 2 THEN 1 ELSE 2 END AS pkm1,
                 CASE ((k + 1) % 4) WHEN 0 THEN 0 WHEN 1 THEN 3
                              WHEN 2 THEN 1 ELSE 2 END AS pkp1
          FROM yrows
        ),
        -- a boundary k is filtered iff MB row k (below it) is
        -- B_PRED, i.e. k odd: its effective level is 20, DC rows 0
        vals AS (
          SELECT asset_id, w,
                 base + pk
                 + CASE
                     WHEN r = 0 AND k > 0 AND k % 2 = 1 THEN
                       -CAST(floor((54 * (pk - pkm1) + 63) / 128.0)
                             AS BIGINT)
                     WHEN r = 1 AND k > 0 AND k % 2 = 1 THEN
                       -CAST(floor((36 * (pk - pkm1) + 63) / 128.0)
                             AS BIGINT)
                     WHEN r = 15 AND k < kmax AND k % 2 = 0 THEN
                       CAST(floor((54 * (pkp1 - pk) + 63) / 128.0)
                            AS BIGINT)
                     WHEN r = 14 AND k < kmax AND k % 2 = 0 THEN
                       CAST(floor((36 * (pkp1 - pk) + 63) / 128.0)
                            AS BIGINT)
                     ELSE 0
                   END AS v
          FROM pat
        ),
        agg AS (
          SELECT asset_id, CAST(sum(w * v) AS BIGINT) AS s
          FROM vals GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.s AS sum_r, agg.s AS sum_g, agg.s AS sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_vp8_normal_filter"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 17 + (doc_id % 6) * 7 AS w,
                 24 + (doc_id % 5) * 16 AS h,
                 90 + (doc_id % 40) AS base
          FROM documents WHERE doc_id % 13 = 9
        ),
        yrows AS (
          SELECT asset_id, w, h, base, i AS y,
                 i // 16 AS k, i % 16 AS r,
                 h // 16 AS kmax
          FROM prm, UNNEST(range(h)) AS u(i)
        ),
        -- stripe pattern [0,3,1,2]; d_prev/d_next are the stripe
        -- deltas across this row's lower/upper MB-edge boundary
        pat AS (
          SELECT *,
                 CASE (k % 4) WHEN 0 THEN 0 WHEN 1 THEN 3
                              WHEN 2 THEN 1 ELSE 2 END AS pk,
                 CASE ((k + 3) % 4) WHEN 0 THEN 0 WHEN 1 THEN 3
                              WHEN 2 THEN 1 ELSE 2 END AS pkm1,
                 CASE ((k + 1) % 4) WHEN 0 THEN 0 WHEN 1 THEN 3
                              WHEN 2 THEN 1 ELSE 2 END AS pkp1
          FROM yrows
        ),
        vals AS (
          SELECT asset_id, w,
                 base + pk
                 + CASE
                     WHEN r = 0 AND k > 0 THEN
                       -CAST(floor((54 * (pk - pkm1) + 63) / 128.0)
                             AS BIGINT)
                     WHEN r = 1 AND k > 0 THEN
                       -CAST(floor((36 * (pk - pkm1) + 63) / 128.0)
                             AS BIGINT)
                     WHEN r = 15 AND k < kmax THEN
                       CAST(floor((54 * (pkp1 - pk) + 63) / 128.0)
                            AS BIGINT)
                     WHEN r = 14 AND k < kmax THEN
                       CAST(floor((36 * (pkp1 - pk) + 63) / 128.0)
                            AS BIGINT)
                     ELSE 0
                   END AS v
          FROM pat
        ),
        agg AS (
          SELECT asset_id, CAST(sum(w * v) AS BIGINT) AS s
          FROM vals GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.s AS sum_r, agg.s AS sum_g, agg.s AS sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_jpeg_color"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 10 + (doc_id % 7) * 4 AS w,
                 9 + (doc_id % 6) * 5 AS h
          FROM documents WHERE doc_id % 11 = 3
        ),
        px AS (
          SELECT asset_id,
                 (37 * ((i % w) // 8) + 71 * ((i // w) // 8)) % 256 AS yy,
                 (23 * ((i % w) // 8) + 41 * ((i // w) // 8)) % 256 AS cb,
                 (53 * ((i % w) // 8) + 13 * ((i // w) // 8)) % 256 AS cr
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        rgb AS (
          SELECT asset_id,
                 least(greatest((1000 * yy + 1402 * (cr - 128) + 500)
                   // 1000, 0), 255) AS r,
                 least(greatest((1000 * yy - 344 * (cb - 128)
                   - 714 * (cr - 128) + 500) // 1000, 0), 255) AS g,
                 least(greatest((1000 * yy + 1772 * (cb - 128) + 500)
                   // 1000, 0), 255) AS b
          FROM px
        ),
        agg AS (
          SELECT asset_id, CAST(sum(r) AS BIGINT) AS sum_r,
                 CAST(sum(g) AS BIGINT) AS sum_g,
                 CAST(sum(b) AS BIGINT) AS sum_b
          FROM rgb GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_png_palette"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 12 + (doc_id % 7) * 6 AS w,
                 9 + (doc_id % 5) * 7 AS h,
                 CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                                 WHEN 2 THEN 4 ELSE 8 END AS d
          FROM documents WHERE doc_id % 13 = 8
        ),
        px AS (
          SELECT asset_id,
                 ((i % w) + 2 * (i // w)) % (1 << d) AS idx
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum((17 * idx + 5) % 256) AS BIGINT) AS sum_r,
                 CAST(sum((29 * idx + 11) % 256) AS BIGINT) AS sum_g,
                 CAST(sum((43 * idx + 7) % 256) AS BIGINT) AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_gif_interlaced"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 15 + (doc_id % 6) * 8 AS w,
                 10 + (doc_id % 7) * 5 AS h
          FROM documents WHERE doc_id % 13 = 12
        ),
        px AS (
          SELECT asset_id,
                 ((i % w) + 2 * (i // w)) % 256 AS idx
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum(idx) AS BIGINT) AS sum_r,
                 CAST(sum((2 * idx) % 256) AS BIGINT) AS sum_g,
                 CAST(sum((3 * idx) % 256) AS BIGINT) AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_png16"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 10 + (doc_id % 6) * 7 AS w,
                 8 + (doc_id % 7) * 4 AS h
          FROM documents WHERE doc_id % 13 = 6
        ),
        px AS (
          SELECT asset_id, i % w AS x, i // w AS y
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum((257 * x + 513 * y) % 65536) AS BIGINT)
                   AS sum_r,
                 CAST(sum((514 * x + 257 * y) % 65536) AS BIGINT)
                   AS sum_g,
                 CAST(sum((257 * x + 258 * y) % 65536) AS BIGINT)
                   AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_netpbm16"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 9 + (doc_id % 6) * 8 AS w,
                 7 + (doc_id % 7) * 5 AS h
          FROM documents WHERE doc_id % 13 = 3
        ),
        px AS (
          SELECT asset_id, i % w AS x, i // w AS y
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum((257 * x + 513 * y) % 65536) AS BIGINT)
                   AS sum_r,
                 CAST(sum((514 * x + 257 * y) % 65536) AS BIGINT)
                   AS sum_g,
                 CAST(sum((257 * x + 258 * y) % 65536) AS BIGINT)
                   AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_bmp_palette"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 12 + (doc_id % 8) * 5 AS w,
                 6 + (doc_id % 5) * 7 AS h,
                 16 + (doc_id % 11) * 24 AS n
          FROM documents WHERE doc_id % 13 = 9
        ),
        px AS (
          SELECT asset_id,
                 ((i % w) + 2 * (i // w)) % n AS p
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum((7 * p + 2) % 256) AS BIGINT) AS sum_r,
                 CAST(sum((5 * p + 1) % 256) AS BIGINT) AS sum_g,
                 CAST(sum((3 * p) % 256) AS BIGINT) AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_webp_cache"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 11 + (doc_id % 8) * 4 AS w,
                 7 + (doc_id % 5) * 6 AS h
          FROM documents WHERE doc_id % 14 = 5
        ),
        px AS (
          SELECT asset_id,
                 i % w AS x,
                 CASE WHEN (i // w) >= 2 AND (i // w) % 2 = 0
                      THEN 0 ELSE i // w END AS ye
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum((11 * x + 23 * ye) % 251) AS BIGINT) AS sum_r,
                 CAST(sum((7 * x + 31 * ye) % 253) AS BIGINT) AS sum_g,
                 CAST(sum((3 * x + 41 * ye) % 249) AS BIGINT) AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_webp_lossless"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 13 + (doc_id % 7) * 5 AS w,
                 8 + (doc_id % 6) * 5 AS h
          FROM documents WHERE doc_id % 13 = 10
        ),
        px AS (
          SELECT asset_id,
                 i % w AS x,
                 CASE WHEN (i // w) >= 2 AND (i // w) % 2 = 0
                      THEN 0 ELSE i // w END AS ye
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        agg AS (
          SELECT asset_id,
                 CAST(sum((11 * x + 23 * ye) % 251) AS BIGINT) AS sum_r,
                 CAST(sum((7 * x + 31 * ye) % 253) AS BIGINT) AS sum_g,
                 CAST(sum((3 * x + 41 * ye) % 249) AS BIGINT) AS sum_b
          FROM px GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_jpeg_sa420"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 16 + (doc_id % 6) * 5 AS w,
                 12 + (doc_id % 5) * 7 AS h
          FROM documents WHERE doc_id % 13 = 11
        ),
        px AS (
          SELECT asset_id,
                 (37 * ((i % w) // 8) + 71 * ((i // w) // 8)) % 256 AS yy,
                 (23 * ((i % w) // 16) + 41 * ((i // w) // 16)) % 256
                   AS cb,
                 (53 * ((i % w) // 16) + 13 * ((i // w) // 16)) % 256
                   AS cr
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        rgb AS (
          SELECT asset_id,
                 least(greatest((1000 * yy + 1402 * (cr - 128) + 500)
                   // 1000, 0), 255) AS r,
                 least(greatest((1000 * yy - 344 * (cb - 128)
                   - 714 * (cr - 128) + 500) // 1000, 0), 255) AS g,
                 least(greatest((1000 * yy + 1772 * (cb - 128) + 500)
                   // 1000, 0), 255) AS b
          FROM px
        ),
        agg AS (
          SELECT asset_id, CAST(sum(r) AS BIGINT) AS sum_r,
                 CAST(sum(g) AS BIGINT) AS sum_g,
                 CAST(sum(b) AS BIGINT) AS sum_b
          FROM rgb GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    # MS-RLE8: the oracle reconstructs every frame's persistent
    # buffer as "the latest update window covering row y" — keyframe
    # rows are (x + 2y) % 256, a row rewritten at frame g carries the
    # constant (2y + 7g) % 256; palette maps i -> (i, 2i%256, 3i%256).
    o["multimodal_avi_msrle"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 8 + (doc_id % 5) * 6 AS w,
                 6 + (doc_id % 4) * 5 AS h,
                 2 + (doc_id % 3) AS nf,
                 1 + (doc_id % 3) AS rh
          FROM documents WHERE doc_id % 11 = 7
        ),
        upd AS (
          SELECT asset_id,
                 u.f AS f,
                 ((u.f - 1) * (rh + 1)) % (h - rh + 1) AS a,
                 rh
          FROM prm, UNNEST(range(1, nf)) AS u(f)
        ),
        rws AS (
          SELECT p.asset_id, fr.f AS f, yy.y AS y, p.w,
                 COALESCE((SELECT max(u.f) FROM upd u
                           WHERE u.asset_id = p.asset_id
                             AND u.f <= fr.f
                             AND yy.y >= u.a
                             AND yy.y < u.a + u.rh), 0) AS g
          FROM prm p,
               UNNEST(range(p.nf)) AS fr(f),
               UNNEST(range(p.h)) AS yy(y)
        ),
        pix AS (
          SELECT r.asset_id, r.f,
                 CASE WHEN r.g > 0 THEN (2 * r.y + 7 * r.g) % 256
                      ELSE (x.x + 2 * r.y) % 256 END AS idx
          FROM rws r, UNNEST(range(r.w)) AS x(x)
        )
        SELECT asset_id,
               CAST(f AS INT) AS frame_idx,
               CAST(count(*) AS BIGINT) AS n_pixels,
               CAST(sum(idx) AS BIGINT) AS sum_r,
               CAST(sum((2 * idx) % 256) AS BIGINT) AS sum_g,
               CAST(sum((3 * idx) % 256) AS BIGINT) AS sum_b
        FROM pix GROUP BY asset_id, f
    """
    o["multimodal_tga"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 10 + (doc_id % 6) * 7 AS w,
                 7 + (doc_id % 5) * 6 AS h
          FROM documents WHERE doc_id % 11 = 4
        ),
        px AS (
          SELECT asset_id,
                 CASE WHEN x.x < w // 2
                      THEN (17 * y.y + asset_id) % 256
                      ELSE (x.x + 2 * y.y) % 256 END AS r,
                 CASE WHEN x.x < w // 2
                      THEN (17 * y.y + asset_id) % 256
                      ELSE (2 * x.x + y.y) % 256 END AS g,
                 CASE WHEN x.x < w // 2
                      THEN (17 * y.y + asset_id) % 256
                      ELSE (x.x + y.y) % 256 END AS b
          FROM prm,
               UNNEST(range(h)) AS y(y),
               UNNEST(range(w)) AS x(x)
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               CAST(sum(r) AS BIGINT) AS sum_r,
               CAST(sum(g) AS BIGINT) AS sum_g,
               CAST(sum(b) AS BIGINT) AS sum_b
        FROM prm JOIN px USING (asset_id)
        GROUP BY prm.asset_id, w, h
    """
    o["multimodal_avi_frames"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 14 + (doc_id % 5) * 7 AS w,
                 9 + (doc_id % 4) * 6 AS h,
                 2 + doc_id % 3 AS nf
          FROM documents WHERE doc_id % 13 = 9
        ),
        fr AS (
          SELECT asset_id, w, h, CAST(f AS INT) AS frame_idx
          FROM prm, UNNEST(range(nf)) AS u(f)
        ),
        px AS (
          SELECT asset_id, frame_idx,
                 (37 * ((i % w) // 8) + 71 * ((i // w) // 8)
                  + 29 * frame_idx) % 256 AS yy,
                 (23 * ((i % w) // 8) + 41 * ((i // w) // 8)
                  + 17 * frame_idx) % 256 AS cb,
                 (53 * ((i % w) // 8) + 13 * ((i // w) // 8)
                  + 11 * frame_idx) % 256 AS cr
          FROM fr, UNNEST(range(w * h)) AS v(i)
        ),
        rgb AS (
          SELECT asset_id, frame_idx,
                 least(greatest((1000 * yy + 1402 * (cr - 128) + 500)
                   // 1000, 0), 255) AS r,
                 least(greatest((1000 * yy - 344 * (cb - 128)
                   - 714 * (cr - 128) + 500) // 1000, 0), 255) AS g,
                 least(greatest((1000 * yy + 1772 * (cb - 128) + 500)
                   // 1000, 0), 255) AS b
          FROM px
        ),
        agg AS (
          SELECT asset_id, frame_idx,
                 CAST(sum(r) AS BIGINT) AS sum_r,
                 CAST(sum(g) AS BIGINT) AS sum_g,
                 CAST(sum(b) AS BIGINT) AS sum_b
          FROM rgb GROUP BY asset_id, frame_idx
        )
        SELECT prm.asset_id, agg.frame_idx,
               CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_jpeg_prog420"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 15 + (doc_id % 7) * 6 AS w,
                 11 + (doc_id % 6) * 8 AS h
          FROM documents WHERE doc_id % 13 = 5
        ),
        px AS (
          SELECT asset_id,
                 (37 * ((i % w) // 8) + 71 * ((i // w) // 8)) % 256 AS yy,
                 (23 * ((i % w) // 16) + 41 * ((i // w) // 16)) % 256
                   AS cb,
                 (53 * ((i % w) // 16) + 13 * ((i // w) // 16)) % 256
                   AS cr
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        rgb AS (
          SELECT asset_id,
                 least(greatest((1000 * yy + 1402 * (cr - 128) + 500)
                   // 1000, 0), 255) AS r,
                 least(greatest((1000 * yy - 344 * (cb - 128)
                   - 714 * (cr - 128) + 500) // 1000, 0), 255) AS g,
                 least(greatest((1000 * yy + 1772 * (cb - 128) + 500)
                   // 1000, 0), 255) AS b
          FROM px
        ),
        agg AS (
          SELECT asset_id, CAST(sum(r) AS BIGINT) AS sum_r,
                 CAST(sum(g) AS BIGINT) AS sum_g,
                 CAST(sum(b) AS BIGINT) AS sum_b
          FROM rgb GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_jpeg_422"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 18 + (doc_id % 6) * 7 AS w,
                 10 + (doc_id % 5) * 9 AS h
          FROM documents WHERE doc_id % 13 = 7
        ),
        px AS (
          SELECT asset_id,
                 (37 * ((i % w) // 8) + 71 * ((i // w) // 8)) % 256 AS yy,
                 (23 * ((i % w) // 16) + 41 * ((i // w) // 8)) % 256
                   AS cb,
                 (53 * ((i % w) // 16) + 13 * ((i // w) // 8)) % 256
                   AS cr
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        rgb AS (
          SELECT asset_id,
                 least(greatest((1000 * yy + 1402 * (cr - 128) + 500)
                   // 1000, 0), 255) AS r,
                 least(greatest((1000 * yy - 344 * (cb - 128)
                   - 714 * (cr - 128) + 500) // 1000, 0), 255) AS g,
                 least(greatest((1000 * yy + 1772 * (cb - 128) + 500)
                   // 1000, 0), 255) AS b
          FROM px
        ),
        agg AS (
          SELECT asset_id, CAST(sum(r) AS BIGINT) AS sum_r,
                 CAST(sum(g) AS BIGINT) AS sum_g,
                 CAST(sum(b) AS BIGINT) AS sum_b
          FROM rgb GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_jpeg_420"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 17 + (doc_id % 5) * 9 AS w,
                 12 + (doc_id % 4) * 11 AS h
          FROM documents WHERE doc_id % 13 = 2
        ),
        px AS (
          SELECT asset_id,
                 (37 * ((i % w) // 8) + 71 * ((i // w) // 8)) % 256 AS yy,
                 (23 * ((i % w) // 16) + 41 * ((i // w) // 16)) % 256
                   AS cb,
                 (53 * ((i % w) // 16) + 13 * ((i // w) // 16)) % 256
                   AS cr
          FROM prm, UNNEST(range(w * h)) AS u(i)
        ),
        rgb AS (
          SELECT asset_id,
                 least(greatest((1000 * yy + 1402 * (cr - 128) + 500)
                   // 1000, 0), 255) AS r,
                 least(greatest((1000 * yy - 344 * (cb - 128)
                   - 714 * (cr - 128) + 500) // 1000, 0), 255) AS g,
                 least(greatest((1000 * yy + 1772 * (cb - 128) + 500)
                   // 1000, 0), 255) AS b
          FROM px
        ),
        agg AS (
          SELECT asset_id, CAST(sum(r) AS BIGINT) AS sum_r,
                 CAST(sum(g) AS BIGINT) AS sum_g,
                 CAST(sum(b) AS BIGINT) AS sum_b
          FROM rgb GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               agg.sum_r, agg.sum_g, agg.sum_b
        FROM prm JOIN agg USING (asset_id)
    """
    o["multimodal_tiff_pixels"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 11 + (doc_id % 9) * 3 AS w,
                 8 + (doc_id % 5) * 6 AS h
          FROM documents WHERE doc_id % 7 = 6
        ),
        px AS (
          SELECT asset_id,
                 CAST(sum((i % w + 2 * (i // w)) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((2 * (i % w) + i // w) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((i % w + i // w) % 256) AS BIGINT) AS sum_b
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               px.sum_r, px.sum_g, px.sum_b
        FROM prm JOIN px USING (asset_id)
    """
    o["multimodal_tiff_packbits"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 9 + (doc_id % 7) * 6 AS w,
                 7 + (doc_id % 6) * 7 AS h
          FROM documents WHERE doc_id % 13 = 12
        ),
        px AS (
          SELECT asset_id,
                 CAST(sum((i % w + 2 * (i // w)) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((2 * (i % w) + i // w) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((i % w + i // w) % 256) AS BIGINT) AS sum_b
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               px.sum_r, px.sum_g, px.sum_b
        FROM prm JOIN px USING (asset_id)
    """
    o["multimodal_tiff_lzw"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 12 + (doc_id % 5) * 9 AS w,
                 8 + (doc_id % 7) * 5 AS h
          FROM documents WHERE doc_id % 13 = 8
        ),
        px AS (
          SELECT asset_id,
                 CAST(sum((i % w + 2 * (i // w)) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((2 * (i % w) + i // w) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((i % w + i // w) % 256) AS BIGINT) AS sum_b
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               px.sum_r, px.sum_g, px.sum_b
        FROM prm JOIN px USING (asset_id)
    """
    o["multimodal_tiff_deflate"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 11 + (doc_id % 6) * 8 AS w,
                 10 + (doc_id % 5) * 6 AS h
          FROM documents WHERE doc_id % 13 = 4
        ),
        px AS (
          SELECT asset_id,
                 CAST(sum((i % w + 2 * (i // w)) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((2 * (i % w) + i // w) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((i % w + i // w) % 256) AS BIGINT) AS sum_b
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               px.sum_r, px.sum_g, px.sum_b
        FROM prm JOIN px USING (asset_id)
    """
    o["multimodal_ppm_pixels"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 14 + (doc_id % 8) * 5 AS w,
                 9 + (doc_id % 6) * 4 AS h
          FROM documents WHERE doc_id % 7 = 5
        ),
        px AS (
          SELECT asset_id,
                 CAST(sum((i % w + 2 * (i // w)) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((2 * (i % w) + i // w) % 256) AS BIGINT)
                   AS sum_g,
                 CAST(sum((i % w + i // w) % 256) AS BIGINT) AS sum_b
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               px.sum_r, px.sum_g, px.sum_b
        FROM prm JOIN px USING (asset_id)
    """
    o["multimodal_gif_pixels"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 20 + (doc_id % 6) * 9 AS w,
                 12 + (doc_id % 5) * 7 AS h
          FROM documents WHERE doc_id % 7 = 4
        ),
        px AS (
          SELECT asset_id,
                 CAST(sum((i % w + 2 * (i // w)) % 256) AS BIGINT)
                   AS sum_r,
                 CAST(sum((2 * ((i % w + 2 * (i // w)) % 256)) % 256)
                   AS BIGINT) AS sum_g,
                 CAST(sum((3 * ((i % w + 2 * (i // w)) % 256)) % 256)
                   AS BIGINT) AS sum_b
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               px.sum_r, px.sum_g, px.sum_b
        FROM prm JOIN px USING (asset_id)
    """
    o["multimodal_jpeg_pixels"] = """
        WITH prm AS (
          SELECT doc_id AS asset_id,
                 13 + (doc_id % 5) * 7 AS w,
                 11 + (doc_id % 4) * 5 AS h
          FROM documents WHERE doc_id % 7 = 3
        ),
        px AS (
          SELECT asset_id,
                 CAST(sum((37 * ((i % w) // 8) + 71 * ((i // w) // 8))
                      % 256) AS BIGINT) AS s
          FROM prm, UNNEST(range(w * h)) AS u(i)
          GROUP BY asset_id
        )
        SELECT prm.asset_id, CAST(w * h AS BIGINT) AS n_pixels,
               px.s AS sum_r, px.s AS sum_g, px.s AS sum_b
        FROM prm JOIN px USING (asset_id)
    """
    o["obs_expectations"] = """
        WITH li AS (
          SELECT count(*) AS total,
                 CAST(sum(CASE WHEN coalesce(
                   l_quantity BETWEEN 1 AND 50, false)
                   THEN 0 ELSE 1 END) AS BIGINT) AS v0,
                 CAST(sum(CASE WHEN coalesce(
                   l_discount <= 0.08, false)
                   THEN 0 ELSE 1 END) AS BIGINT) AS v1,
                 CAST(sum(CASE WHEN coalesce(
                   l_extendedprice > 0, false)
                   THEN 0 ELSE 1 END) AS BIGINT) AS v2,
                 CAST(sum(CASE WHEN coalesce(
                   l_returnflag IN ('A', 'N', 'R'), false)
                   THEN 0 ELSE 1 END) AS BIGINT) AS v3
          FROM lineitem
        )
        SELECT 'li_qty_in_range' AS rule, total, v0 AS violations,
               CAST(v0 = 0 AS BIGINT) AS ok FROM li
        UNION ALL
        SELECT 'li_discount_le_8pct', total, v1,
               CAST(v1 = 0 AS BIGINT) FROM li
        UNION ALL
        SELECT 'li_price_positive', total, v2,
               CAST(v2 = 0 AS BIGINT) FROM li
        UNION ALL
        SELECT 'li_flag_known', total, v3,
               CAST(v3 = 0 AS BIGINT) FROM li
        UNION ALL
        SELECT 'o_orderkey_unique', count(*),
               CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
               CAST(count(*) = count(DISTINCT o_orderkey) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'li_orderkey_in_orders',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)),
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey))
                    = 0 AS BIGINT)
        UNION ALL
        SELECT 'events_fresh_2h', count(*),
               CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'events_fresh_30m', count(*),
               CAST(1800000000 AS BIGINT), CAST(0 AS BIGINT)
        FROM events
    """
    o["obs_drift_psi"] = """
        WITH o AS (
          SELECT source AS key, count(*) AS n_old FROM documents
          WHERE doc_id % 2 = 0 AND source <> 'src19' GROUP BY 1
        ),
        n AS (
          SELECT source AS key, count(*) AS n_new FROM documents
          WHERE doc_id % 2 = 1 AND source <> 'src0' GROUP BY 1
        ),
        b AS (
          SELECT COALESCE(o.key, n.key) AS key,
                 COALESCE(n_old, 0) AS n_old,
                 COALESCE(n_new, 0) AS n_new
          FROM o FULL OUTER JOIN n ON o.key = n.key
        ),
        t AS (
          SELECT count(*) AS k, CAST(sum(n_old) AS BIGINT) AS tot_o,
                 CAST(sum(n_new) AS BIGINT) AS tot_n
          FROM b
        )
        SELECT key, n_old, n_new,
               round((n_old + 1.0) / (tot_o + k), 4) AS p_old,
               round((n_new + 1.0) / (tot_n + k), 4) AS p_new,
               round(((n_new + 1.0) / (tot_n + k)
                      - (n_old + 1.0) / (tot_o + k))
                     * ln(((n_new + 1.0) / (tot_n + k))
                          / ((n_old + 1.0) / (tot_o + k))), 4) AS psi
        FROM b, t
    """
    o["obs_drift_ks"] = """
        WITH o AS (
          -- NULL values are excluded on both sides (mirrors
          -- ks_statistic: CDFs are undefined at NULL and engines
          -- disagree on NULL sort position in cumulative windows)
          SELECT n_chars AS v, count(*) AS d_old FROM documents
          WHERE lang = 'en' AND n_chars IS NOT NULL GROUP BY 1
        ),
        n AS (
          SELECT n_chars AS v, count(*) AS d_new FROM documents
          WHERE lang <> 'en' AND n_chars IS NOT NULL GROUP BY 1
        ),
        m AS (
          SELECT COALESCE(o.v, n.v) AS v,
                 COALESCE(d_old, 0) AS d_old,
                 COALESCE(d_new, 0) AS d_new
          FROM o FULL OUTER JOIN n ON o.v = n.v
        ),
        c AS (
          SELECT v,
                 sum(d_old) OVER (ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cum_old,
                 sum(d_new) OVER (ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cum_new
          FROM m
        ),
        t AS (
          -- an empty side zeroes a denominator; the WHERE empties the
          -- 1-row totals frame so the query returns 0 rows (mirrors
          -- ks_statistic's cannot-compare contract)
          SELECT CAST(COALESCE(sum(d_old), 0) AS BIGINT) AS tot_o,
                 CAST(COALESCE(sum(d_new), 0) AS BIGINT) AS tot_n
          FROM m
          HAVING tot_o > 0 AND tot_n > 0
        ),
        g AS (
          SELECT v,
                 abs(CAST(cum_old AS DOUBLE) / tot_o
                     - CAST(cum_new AS DOUBLE) / tot_n) AS gap,
                 tot_o, tot_n
          FROM c, t
        )
        SELECT round(gap, 4) AS ks, v AS at_value,
               tot_o AS n_old, tot_n AS n_new
        FROM g ORDER BY gap DESC, v LIMIT 1
    """
    o["pipeline_corpus_card"] = r"""
        SELECT source,
               count(*) AS n_docs,
               CAST(SUM(len(string_split_regex(trim(text), '\s+')))
                    AS BIGINT) AS total_tokens,
               round(avg(n_chars), 2) AS avg_chars,
               round(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 4) AS en_share,
               round(count(DISTINCT md5(text))
                     / CAST(count(*) AS DOUBLE), 4) AS uniq_ratio
        FROM documents GROUP BY source
    """
    o["split_leakage_safe"] = f"""
WITH RECURSIVE p AS ({_jaccard_oracle()}),
und AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM p
),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM und)
  UNION
  SELECT u.a, r.b FROM und u JOIN reach r ON u.b = r.a
),
labels AS (SELECT a AS id, min(b) AS label FROM reach GROUP BY a),
u AS (
  SELECT doc_id, coalesce(l.label, doc_id) AS split_unit
  FROM documents LEFT JOIN labels l ON doc_id = l.id
),
g AS (
  SELECT doc_id, split_unit,
         {portable_hash32_sql('split_unit')} % 100 AS h
  FROM u
)
SELECT doc_id, split_unit,
       CASE WHEN h < 90 THEN 'train'
            WHEN h < 95 THEN 'val'
            ELSE 'test' END AS split
FROM g
"""
    o["events_asof_cogroup"] = o["events_asof_join"]
    o["text_bpe_merges"] = _bpe_oracle(_BPE_K)
    o["text_bpe_encode"] = _bpe_encode_oracle(_BPE_K)
    o["text_bpe_byte_fallback"] = _bpe_byte_fallback_oracle(_BPE_K)
    o["text_unigram_lm"] = _unigram_oracle()
    o["text_wordpiece"] = _wordpiece_oracle()
    o["text_unigram_vocab"] = _unigram_vocab_oracle()
    o["a18_countmin_topk"] = _countmin_oracle(4, 256, 20)
    o["stream_countmin"] = _stream_countmin_oracle(4, 256)
    o["a19_loghist_quantiles"] = _LOGHIST_ORACLE
    o["stream_loghist"] = _STREAM_LOGHIST_ORACLE
    o["stream_sliding_hll"] = f"""
        WITH e AS (SELECT {_EVENT_US} AS t, user_id FROM events),
        x AS (
          SELECT (t // 1800000000 - i) * 1800000000 AS w_start_us,
                 user_id
          FROM e, UNNEST([0, 1]) AS u(i)
        )
        SELECT w_start_us, count(*) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
               true AS within_tol
        FROM x GROUP BY w_start_us
    """
    o["stream_sliding"] = f"""
        WITH e AS (SELECT {_EVENT_US} AS t, value FROM events),
        x AS (
          SELECT (t // 1800000000 - i) * 1800000000 AS w_start_us,
                 value
          FROM e, UNNEST([0, 1]) AS u(i)
        )
        SELECT w_start_us, count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM x GROUP BY w_start_us
    """
    o["text_bigram_lm"] = r"""
        WITH tok AS (
          SELECT string_split_regex(trim(lower(text)), '\s+') AS w
          FROM documents
        ),
        pairs AS (
          SELECT w[i] AS word, w[i + 1] AS next, count(*) AS n
          FROM tok, UNNEST(range(1, len(w))) AS u(i)
          GROUP BY 1, 2
        ),
        t AS (SELECT word, sum(n) AS total FROM pairs GROUP BY 1)
        SELECT p.word, p.next, p.n,
               round(CAST(p.n AS DOUBLE) / t.total, 4) AS p,
               CAST(row_number() OVER (
                 PARTITION BY p.word ORDER BY p.n DESC, p.next
               ) AS BIGINT) AS rnk
        FROM pairs p JOIN t USING (word)
        QUALIFY rnk <= 3
    """
    o["text_perplexity"] = r"""
        WITH tok AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS w
          FROM documents
        ),
        dp AS (
          SELECT doc_id, w[i] AS l, w[i + 1] AS r, count(*) AS m
          FROM tok, UNNEST(range(1, len(w))) AS u(i)
          GROUP BY 1, 2, 3
        ),
        c AS (
          SELECT l, r, CAST(sum(m) AS BIGINT) AS n FROM dp GROUP BY 1, 2
        ),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS nb_total FROM c),
        s AS (
          SELECT c.l, c.r,
                 CAST(round(ln(CAST(t.nb_total AS DOUBLE) / c.n) * 10000)
                   AS BIGINT) AS s
          FROM c, t
        )
        SELECT dp.doc_id,
               CAST(sum(dp.m) AS BIGINT) AS n_bigrams,
               round(CAST(sum(dp.m * s.s) AS DOUBLE)
                     / (10000 * sum(dp.m)), 4) AS avg_nll
        FROM dp JOIN s ON dp.l = s.l AND dp.r = s.r
        GROUP BY dp.doc_id
    """
    o["text_collocations"] = r"""
        WITH tok AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS w
          FROM documents
        ),
        c AS (
          SELECT w[i] AS l, w[i + 1] AS r,
                 CAST(count(*) AS BIGINT) AS n
          FROM tok, UNNEST(range(1, len(w))) AS u(i)
          GROUP BY 1, 2
        ),
        lm AS (SELECT l, CAST(sum(n) AS BIGINT) AS cl FROM c GROUP BY 1),
        rm AS (SELECT r, CAST(sum(n) AS BIGINT) AS cr FROM c GROUP BY 1),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS nb FROM c),
        s AS (
          SELECT c.l, c.r, c.n,
                 CAST(round(ln(CAST(t.nb AS DOUBLE) * c.n
                              / (lm.cl * rm.cr)) * 10000)
                   AS BIGINT) AS s
          FROM c
          JOIN lm USING (l)
          JOIN rm USING (r)
          CROSS JOIN t
          WHERE c.n >= 3
        )
        SELECT l, r, n, round(s / 10000.0, 4) AS pmi
        FROM s ORDER BY s DESC, l, r LIMIT 20
    """
    o["lake_upsert_latest"] = f"""
        WITH e AS (
          SELECT event_id, user_id, {_EVENT_US} AS ts_us, event_type
          FROM events
        ),
        newer AS (
          SELECT event_id, user_id, ts_us + 1000000 AS ts_us,
                 'corrected' AS event_type
          FROM e WHERE event_id % 2 = 1
        ),
        stale AS (
          SELECT event_id, user_id, ts_us - 1000000 AS ts_us,
                 'stale' AS event_type
          FROM e WHERE event_id % 4 = 0
        ),
        u AS (
          SELECT *, 0 AS side FROM e
          UNION ALL SELECT *, 1 AS side FROM newer
          UNION ALL SELECT *, 1 AS side FROM stale
        )
        SELECT event_id, user_id, ts_us, event_type FROM u
        QUALIFY row_number() OVER (
          PARTITION BY event_id ORDER BY ts_us DESC, side ASC) = 1
    """
    o["w8_time_range_frame"] = f"""
        SELECT user_id, event_id, {_EVENT_US} AS ts_us,
               count(*) OVER (
                 PARTITION BY user_id ORDER BY {_EVENT_US}
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
               ) AS n_last_hour
        FROM events
    """
    o["pipeline_user_features"] = f"""
        WITH e AS (
          SELECT user_id, event_id, {_EVENT_US} AS t, event_type,
                 value
          FROM events
        ),
        base AS (
          SELECT user_id, count(*) AS n_events,
                 count(DISTINCT event_type) AS n_types,
                 round(sum(value), 2) AS sum_value
          FROM e GROUP BY user_id
        ),
        g AS (
          SELECT user_id,
                 CASE WHEN lag(t) OVER w IS NULL
                        OR t - lag(t) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        ),
        sess AS (
          SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
          FROM g GROUP BY user_id
        ),
        d AS (
          SELECT user_id,
                 CASE WHEN lag(t) OVER w2 IS NULL
                        OR t - lag(t) OVER w2 > 3600000000
                      THEN 1 ELSE 0 END AS keep
          FROM e
          WINDOW w2 AS (PARTITION BY user_id, event_type
                        ORDER BY t, event_id)
        ),
        deb AS (
          SELECT user_id, CAST(sum(keep) AS BIGINT) AS n_debounced
          FROM d GROUP BY user_id
        )
        SELECT b.user_id, b.n_events, b.n_types, b.sum_value,
               s.n_sessions, x.n_debounced
        FROM base b JOIN sess s USING (user_id)
        JOIN deb x USING (user_id)
    """
    o["events_debounce"] = f"""
        WITH e AS (
          SELECT user_id, event_id, {_EVENT_US} AS ts_us, event_type,
                 {_EVENT_US} - lag({_EVENT_US}) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY {_EVENT_US}, event_id) AS gap
          FROM events
        )
        SELECT user_id, event_id, ts_us, event_type
        FROM e WHERE gap IS NULL OR gap > {3_600_000_000}
    """
    o["sample_per_group"] = f"""
        SELECT doc_id, lang, source FROM documents
        QUALIFY row_number() OVER (
          PARTITION BY lang, source
          ORDER BY {portable_hash32_sql('doc_id')} ASC, doc_id ASC
        ) <= 5
    """
    o["text_quality_classifier"] = f"""
        WITH {_WORDS_CTE.strip()},
        tok AS (SELECT doc_id, unnest(w) AS word FROM words),
        feats AS (
          SELECT doc_id,
                 {portable_hash32_sql('word')} % 64 AS bucket,
                 count(*) AS n
          FROM tok GROUP BY 1, 2
        ),
        agg AS (
          SELECT doc_id,
                 CAST(sum(n * ({portable_hash32_sql("CAST(bucket AS VARCHAR)", seed=7)} % 2001 - 1000)) AS BIGINT)
                   AS logit_milli,
                 CAST(sum(n) AS BIGINT) AS n_words
          FROM feats GROUP BY doc_id
        )
        SELECT doc_id, logit_milli, n_words,
               round(1.0 / (1.0 + exp(-(CAST(logit_milli AS DOUBLE)
                     / (n_words * 1000.0)))), 4) AS score,
               logit_milli > 0 AS keep
        FROM agg
    """
    o["text_feature_hash"] = f"""
        WITH {_WORDS_CTE.strip()},
        tok AS (SELECT doc_id, unnest(w) AS word FROM words)
        SELECT doc_id,
               {portable_hash32_sql('word')} % 64 AS bucket,
               count(*) AS n
        FROM tok GROUP BY 1, 2
    """
    o["text_dsir_weights"] = f"""
        WITH {_WORDS_CTE.strip()},
        tok AS (SELECT doc_id, unnest(w) AS word FROM words),
        b AS (
          SELECT doc_id,
                 {portable_hash32_sql('word')} % 64 AS bucket
          FROM tok
        ),
        cq AS (SELECT bucket, count(*) AS cq FROM b GROUP BY 1),
        cp AS (
          SELECT bucket, count(*) AS cp FROM b
          WHERE doc_id % 7 = 3 GROUP BY 1
        ),
        r AS (
          SELECT COALESCE(cq.bucket, cp.bucket) AS bucket,
                 CAST(round((ln(COALESCE(cp, 0) + 1)
                             - ln(COALESCE(cq, 0) + 1)) * 10000)
                   AS BIGINT) AS d
          FROM cq FULL OUTER JOIN cp ON cq.bucket = cp.bucket
        ),
        t AS (
          SELECT CAST(round((
                   ln(CAST((SELECT COALESCE(sum(cp), 0) FROM cp)
                           + 64 AS DOUBLE))
                   - ln(CAST((SELECT COALESCE(sum(cq), 0) FROM cq)
                             + 64 AS DOUBLE))) * 10000)
                 AS BIGINT) AS cst
        ),
        pd AS (
          SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY 1, 2
        )
        SELECT pd.doc_id,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               round(CAST(sum(n * d)
                          - sum(n) * (SELECT cst FROM t) AS DOUBLE)
                     / 10000, 4) AS log_weight
        FROM pd JOIN r USING (bucket)
        GROUP BY pd.doc_id
    """
    o["text_dsir_resample"] = f"""
        WITH {_WORDS_CTE.strip()},
        tok AS (SELECT doc_id, unnest(w) AS word FROM words),
        b AS (
          SELECT doc_id,
                 {portable_hash32_sql('word')} % 64 AS bucket
          FROM tok
        ),
        cq AS (SELECT bucket, count(*) AS cq FROM b GROUP BY 1),
        cp AS (
          SELECT bucket, count(*) AS cp FROM b
          WHERE doc_id % 7 = 3 GROUP BY 1
        ),
        r AS (
          SELECT COALESCE(cq.bucket, cp.bucket) AS bucket,
                 CAST(round((ln(COALESCE(cp, 0) + 1)
                             - ln(COALESCE(cq, 0) + 1)) * 10000)
                   AS BIGINT) AS d
          FROM cq FULL OUTER JOIN cp ON cq.bucket = cp.bucket
        ),
        t AS (
          SELECT CAST(round((
                   ln(CAST((SELECT COALESCE(sum(cp), 0) FROM cp)
                           + 64 AS DOUBLE))
                   - ln(CAST((SELECT COALESCE(sum(cq), 0) FROM cq)
                             + 64 AS DOUBLE))) * 10000)
                 AS BIGINT) AS cst
        ),
        pd AS (
          SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY 1, 2
        ),
        lw AS (
          SELECT pd.doc_id,
                 round(CAST(sum(n * d)
                            - sum(n) * (SELECT cst FROM t) AS DOUBLE)
                       / 10000, 4) AS log_weight
          FROM pd JOIN r USING (bucket)
          GROUP BY pd.doc_id
        ),
        g AS (
          SELECT doc_id,
                 round(log_weight - ln(-ln(
                   ({portable_hash32_sql('doc_id', seed=1)} + 0.5)
                   / 4294967296.0)), 4) AS gumbel_key
          FROM lw
        ),
        rk AS (
          SELECT doc_id, gumbel_key,
                 row_number() OVER (
                   ORDER BY gumbel_key DESC, doc_id
                 ) AS rn
          FROM g
        )
        SELECT doc_id, gumbel_key,
               CAST(CASE WHEN rn <= 40 THEN 1 ELSE 0 END AS INT)
                 AS selected
        FROM rk
    """
    o["text_word_entropy"] = f"""
        WITH {_WORDS_CTE.strip()},
        tok AS (SELECT doc_id, unnest(w) AS word FROM words),
        hist AS (
          SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_words_h,
               round(log2(CAST(sum(c) AS DOUBLE))
                     - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                       / CAST(sum(c) AS DOUBLE), 4) AS entropy_bits
        FROM hist GROUP BY doc_id
    """
    # oracle = FULL-log recompute; the Spark side merges the later
    # slice into standing history — equivalence is the check
    o["scd2_incremental"] = o["scd2_history"]
    o["stream_scd2"] = o["scd2_history"]
    o["events_dwell"] = f"""
        WITH spans AS (
          SELECT event_type,
                 lead({_EVENT_US}) OVER (
                   PARTITION BY user_id
                   ORDER BY {_EVENT_US}, event_id) - {_EVENT_US}
                   AS dwell_us
          FROM events
        )
        SELECT event_type, count(*) AS n_intervals,
               CAST(sum(dwell_us) AS BIGINT) AS total_dwell_us,
               CAST(sum(dwell_us) // count(*) AS BIGINT)
                 AS avg_dwell_us
        FROM spans WHERE dwell_us IS NOT NULL
        GROUP BY event_type
    """
    # the oracle states the interval-containment predicate directly
    # (a range join — fine at oracle scale); the Spark side's
    # union-carry as-of must produce the same rows
    o["scd2_point_in_time"] = f"""
        WITH base AS (
          SELECT user_id, event_id, {_EVENT_US} AS ts_us, event_type,
                 row_number() OVER w AS rn,
                 lag(event_type) OVER w AS prev
          FROM events
          WINDOW w AS (PARTITION BY user_id
                       ORDER BY {_EVENT_US}, event_id)
        ),
        chg AS (
          SELECT user_id, event_id, ts_us, event_type FROM base
          WHERE rn = 1 OR event_type IS DISTINCT FROM prev
        ),
        hist AS (
          SELECT user_id, event_type, ts_us AS valid_from_us,
                 lead(ts_us) OVER w2 AS valid_to_us,
                 CAST(row_number() OVER w2 AS BIGINT) AS version
          FROM chg
          WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ),
        facts AS (
          SELECT user_id, event_id, {_EVENT_US} AS ts_us
          FROM events WHERE event_type = 'purchase'
        )
        SELECT f.user_id, f.event_id, f.ts_us,
               h.event_type AS event_type_at_ts, h.version
        FROM facts f
        JOIN hist h ON f.user_id = h.user_id
          AND h.valid_from_us <= f.ts_us
          AND (h.valid_to_us IS NULL OR f.ts_us < h.valid_to_us)
    """
    o["j9_nullsafe_join"] = """
        WITH a AS (
          SELECT CASE WHEN user_id % 11 = 0 THEN NULL
                      ELSE user_id % 37 END AS k,
                 count(*) AS l_n
          FROM events WHERE event_id % 3 = 0 GROUP BY 1
        ),
        b AS (
          SELECT CASE WHEN user_id % 11 = 0 THEN NULL
                      ELSE user_id % 37 END AS k,
                 count(*) AS r_n
          FROM events WHERE event_id % 5 = 0 GROUP BY 1
        )
        SELECT a.k, a.l_n, b.r_n
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """
    # --- strip_html: regenerate the identical HTML, replay the same
    # cleaning chain (patterns/entity order injected from the operator
    # constants so the two sides CANNOT drift) ---
    _html_sql = (
        "'" + _HTML_HEAD + "' || source || '</h1><p id=\"b\">' || "
        "substr(text, 1, 120) || '" + _HTML_MID + "' || lang || "
        "'</p></body></html>'"
    )
    _clean = "html"
    for _pat in (
        TX.HTML_SCRIPT_PATTERN,
        TX.HTML_STYLE_PATTERN,
        TX.HTML_TAG_PATTERN,
    ):
        _clean = f"regexp_replace({_clean}, '{_pat}', ' ', 'g')"
    for _ent, _rep in TX.HTML_ENTITIES:
        _r = _rep.replace("'", "''")
        _clean = f"replace({_clean}, '{_ent}', '{_r}')"
    _clean = rf"trim(regexp_replace({_clean}, '\s+', ' ', 'g'))"
    o["text_url_canonical"] = """
        WITH c AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0
                      THEN 'https://' || source || '.example.com/docs/'
                           || CAST(doc_id % 40 AS VARCHAR)
                           || '?a=1&b=' || lang
                      ELSE 'http://' || source || '.example.com:8080/docs/'
                           || CAST(doc_id % 40 AS VARCHAR)
                           || '?a=1&b=' || lang
                 END AS canon_url
          FROM documents
        )
        SELECT canon_url, count(*) AS n_dups,
               min(doc_id) AS keep_id
        FROM c GROUP BY canon_url
    """
    o["text_html_clean"] = f"""
        WITH h AS (SELECT doc_id, {_html_sql} AS html FROM documents),
        c AS (SELECT doc_id, {_clean} AS clean_text FROM h)
        SELECT doc_id, clean_text,
               CAST(length(clean_text) AS BIGINT) AS clean_chars
        FROM c
    """
    _html_full = (
        "'" + _HTML_HEAD + "' || source || '</h1><p id=\"b\">' || "
        "text || '" + _HTML_MID + "' || lang || '</p></body></html>'"
    )
    o["pipeline_web_curation"] = rf"""
        WITH h AS (
          SELECT doc_id, source, {_html_full} AS html FROM documents
        ),
        c AS (SELECT doc_id, source, {_clean} AS t FROM h),
        s AS (
          SELECT doc_id, source, t,
                 string_split_regex(trim(t), '\s+') AS words,
                 list_filter(
                   list_transform(string_split(t, chr(10)), x -> trim(x)),
                   ln -> length(ln) > 0) AS lines
          FROM c
        ),
        m AS (
          SELECT doc_id, source, t,
                 len(words) AS n_words,
                 list_sum(list_transform(words, w -> length(w)))
                   AS total_chars,
                 len(list_filter(words,
                   w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
                 len(lines) AS n_lines,
                 len(list_filter(lines,
                   ln -> regexp_matches(ln, '\.\.\.$'))) AS ell_lines,
                 len(list_filter(lines,
                   ln -> regexp_matches(ln, '^[-*•]'))) AS bul_lines,
                 len(lines) - len(list_distinct(lines)) AS dup_lines,
                 words
          FROM s
        ),
        g AS (
          SELECT doc_id, source, t, n_words, words,
                 (n_words >= 50 AND n_words <= 100000
                  AND total_chars >= n_words * 3
                  AND total_chars <= n_words * 12
                  AND alpha_words * 100 >= n_words * 80
                  AND ell_lines * 100 <= n_lines * 30
                  AND bul_lines * 100 <= n_lines * 90
                  AND dup_lines * 100 <= n_lines * 30) AS g_keep
          FROM m
        ),
        feats AS (
          SELECT doc_id, {portable_hash32_sql('word')} % 64 AS bucket,
                 count(*) AS n
          FROM (SELECT doc_id, unnest(words) AS word FROM g)
          GROUP BY 1, 2
        ),
        clf AS (
          SELECT doc_id,
                 sum(n * ({portable_hash32_sql("CAST(bucket AS VARCHAR)", seed=7)} % 2001 - 1000)) > 0
                   AS c_keep
          FROM feats GROUP BY doc_id
        ),
        keeper AS (SELECT t, min(doc_id) AS keep_id FROM s GROUP BY t),
        j AS (
          SELECT g.source, g.n_words, g.g_keep, clf.c_keep,
                 g.doc_id = k.keep_id AS is_keeper
          FROM g
          JOIN clf USING (doc_id)
          JOIN keeper k ON g.t = k.t
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN g_keep THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_gate_kept,
               CAST(sum(CASE WHEN g_keep AND c_keep THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_quality_kept,
               CAST(sum(CASE WHEN g_keep AND c_keep AND is_keeper
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
               CAST(sum(CASE WHEN g_keep AND c_keep AND is_keeper
                    THEN n_words ELSE 0 END) AS BIGINT) AS kept_words
        FROM j GROUP BY source
    """
    o["text_nfc_normalize"] = """
        WITH r AS (
          SELECT doc_id,
                 'Cafe' || chr(769) || ' nai' || chr(776) || 've '
                   || substr(text, 1, 80)
                   || ' u' || chr(776) || 'ber' AS raw
          FROM documents
        )
        SELECT doc_id, nfc_normalize(raw) AS nfc_text,
               CAST(length(raw) AS BIGINT) AS raw_chars,
               CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_chars
        FROM r
    """
    _gtail = _GOPHER_TAIL.replace("\n", "' || chr(10) || '")
    o["text_gopher_gates"] = rf"""
        WITH d AS (
          SELECT doc_id, text || '{_gtail}' AS t FROM documents
        ),
        s AS (
          SELECT doc_id,
                 string_split_regex(trim(t), '\s+') AS words,
                 list_filter(
                   list_transform(string_split(t, chr(10)), x -> trim(x)),
                   ln -> length(ln) > 0) AS lines
          FROM d
        ),
        m AS (
          SELECT doc_id,
                 len(words) AS n_words,
                 list_sum(list_transform(words, w -> length(w)))
                   AS total_chars,
                 len(list_filter(words,
                   w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
                 len(lines) AS n_lines,
                 len(list_filter(lines,
                   ln -> regexp_matches(ln, '\.\.\.$'))) AS ellipsis_lines,
                 len(list_filter(lines,
                   ln -> regexp_matches(ln, '^[-*•]'))) AS bullet_lines,
                 len(lines) - len(list_distinct(lines)) AS dup_lines
          FROM s
        ),
        g AS (
          SELECT doc_id, n_words, dup_lines,
                 concat_ws(',',
                   CASE WHEN n_words < 50 THEN 'too_few_words' END,
                   CASE WHEN n_words > 100000 THEN 'too_many_words' END,
                   CASE WHEN total_chars < n_words * 3
                        THEN 'words_too_short' END,
                   CASE WHEN total_chars > n_words * 12
                        THEN 'words_too_long' END,
                   CASE WHEN alpha_words * 100 < n_words * 80
                        THEN 'non_alpha' END,
                   CASE WHEN ellipsis_lines * 100 > n_lines * 30
                        THEN 'ellipsis_lines' END,
                   CASE WHEN bullet_lines * 100 > n_lines * 90
                        THEN 'bullet_lines' END,
                   CASE WHEN dup_lines * 100 > n_lines * 30
                        THEN 'duplicate_lines' END) AS reasons
          FROM m
        )
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
               CAST(dup_lines AS BIGINT) AS n_dup_lines,
               reasons = '' AS keep, reasons
        FROM g
    """
    o["events_resample_ffill"] = f"""
        WITH ev AS (
          SELECT user_id, event_id, event_type,
                 {_EVENT_US} AS ts_us,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events WHERE user_id % 15 = 0
        ),
        eh AS (SELECT *, ts_us // 3600000000 AS h FROM ev),
        agg AS (
          SELECT user_id, h, count(*) AS n_events,
                 CAST(sum(cents) AS BIGINT) AS val_cents
          FROM eh GROUP BY 1, 2
        ),
        lt AS (
          SELECT user_id, h, event_type AS last_type
          FROM eh
          QUALIFY row_number() OVER (PARTITION BY user_id, h
            ORDER BY ts_us DESC, event_id DESC) = 1
        ),
        obs AS (
          SELECT agg.*, lt.last_type
          FROM agg JOIN lt ON agg.user_id = lt.user_id AND agg.h = lt.h
        ),
        span AS (
          SELECT user_id, min(h) AS h0, max(h) AS h1 FROM eh GROUP BY 1
        ),
        grid AS (
          SELECT user_id, u.i AS h
          FROM span, UNNEST(range(h0, h1 + 1)) AS u(i)
        )
        SELECT g.user_id, g.h,
               COALESCE(o2.n_events, 0) AS n_events,
               COALESCE(o2.val_cents, 0) AS val_cents,
               last_value(o2.last_type IGNORE NULLS) OVER (
                 PARTITION BY g.user_id ORDER BY g.h) AS filled_type,
               o2.last_type IS NULL AS is_gap
        FROM grid g
        LEFT JOIN obs o2 ON g.user_id = o2.user_id AND g.h = o2.h
    """
    o["snap_hidden_partition"] = """
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_custkey = 42
    """
    o["snap_meta_count"] = """
        SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT CAST(1 AS BIGINT), count(*) FROM orders
    """
    o["snap_compact_cluster"] = """
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000
    """
    o["snap_partition_prune"] = """
        SELECT doc_id, lang, source, n_chars
        FROM documents WHERE lang = 'en'
    """
    o["snap_apply_cdc"] = """
        SELECT n_nationkey,
               CASE WHEN n_nationkey % 5 = 0 AND n_nationkey % 7 <> 3
                    THEN 'cdc-' || n_name ELSE n_name END AS n_name,
               n_regionkey
        FROM nation WHERE n_nationkey % 7 <> 3
        UNION ALL
        SELECT CAST(n_nationkey + 100 AS INT) AS n_nationkey,
               'new-' || n_name AS n_name, n_regionkey
        FROM nation WHERE n_nationkey < 3
    """
    o["events_ewma"] = f"""
        WITH RECURSIVE ev AS (
          SELECT user_id, {_EVENT_US} AS ts_us,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events WHERE user_id % 15 = 0
        ),
        hourly AS (
          SELECT user_id, ts_us // 3600000000 AS h,
                 CAST(sum(cents) AS BIGINT) AS cents
          FROM ev GROUP BY 1, 2
        ),
        ordered AS (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY h) AS rn
          FROM hourly
        ),
        rec AS (
          SELECT user_id, h, cents, rn, CAST(cents AS DOUBLE) AS s
          FROM ordered WHERE rn = 1
          UNION ALL
          SELECT o.user_id, o.h, o.cents, o.rn,
                 r.s * 0.75 + CAST(o.cents AS DOUBLE) * 0.25
          FROM rec r
          JOIN ordered o
            ON o.user_id = r.user_id AND o.rn = r.rn + 1
        )
        SELECT user_id, h, cents, round(s, 4) AS ewma FROM rec
    """
    o["events_rfm"] = f"""
        WITH ev AS (
          SELECT user_id, {_EVENT_US} AS ts_us,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        pu AS (
          SELECT user_id, max(ts_us) AS last_us,
                 count(*) AS frequency,
                 CAST(sum(cents) AS BIGINT) AS monetary_cents
          FROM ev GROUP BY 1
        ),
        gm AS (SELECT max(last_us) AS gmax FROM pu),
        m AS (
          SELECT user_id,
                 (gm.gmax - pu.last_us) // 3600000000 AS recency_h,
                 frequency, monetary_cents
          FROM pu, gm
        ),
        q AS (
          SELECT quantile_cont(recency_h, [0.25, 0.5, 0.75]) AS qr,
                 quantile_cont(frequency, [0.25, 0.5, 0.75]) AS qf,
                 quantile_cont(monetary_cents, [0.25, 0.5, 0.75]) AS qm
          FROM m
        ),
        s AS (
          SELECT m.*,
                 5 - (1 + CAST(m.recency_h > q.qr[1] AS INT)
                        + CAST(m.recency_h > q.qr[2] AS INT)
                        + CAST(m.recency_h > q.qr[3] AS INT)) AS r_tile,
                 1 + CAST(m.frequency > q.qf[1] AS INT)
                   + CAST(m.frequency > q.qf[2] AS INT)
                   + CAST(m.frequency > q.qf[3] AS INT) AS f_tile,
                 1 + CAST(m.monetary_cents > q.qm[1] AS INT)
                   + CAST(m.monetary_cents > q.qm[2] AS INT)
                   + CAST(m.monetary_cents > q.qm[3] AS INT) AS m_tile
          FROM m, q
        )
        SELECT user_id, recency_h, frequency, monetary_cents,
               r_tile, f_tile, m_tile,
               'R' || CAST(r_tile AS VARCHAR)
                 || 'F' || CAST(f_tile AS VARCHAR)
                 || 'M' || CAST(m_tile AS VARCHAR) AS segment
        FROM s
    """
    return o


# Registry order is grouped by family and driver-record round; the
# driver's correctness window reads the rotation view in
# __spark_entry__.queries() (stalest record first), not this order.
SPARK_QUERIES = {
    # --- r13-new lanes (never driver-recorded; the rotation view in
    # __spark_entry__ orders these first automatically) ---
    "multimodal_vp8_bpred": q_multimodal_vp8_bpred,
    "multimodal_vp8_segments": q_multimodal_vp8_segments,
    "multimodal_vp8l_predictor": q_multimodal_vp8l_predictor,
    "multimodal_vp8l_color": q_multimodal_vp8l_color,
    "multimodal_vp8l_palette": q_multimodal_vp8l_palette,
    "multimodal_vp8l_meta": q_multimodal_vp8l_meta,
    "multimodal_vp8l_bundled": q_multimodal_vp8l_bundled,
    "multimodal_vp8l_dist": q_multimodal_vp8l_dist,
    "multimodal_webp_anim": q_multimodal_webp_anim,
    "multimodal_webp_alpha": q_multimodal_webp_alpha,
    "multimodal_exif": q_multimodal_exif,
    "multimodal_exif_oriented": q_multimodal_exif_oriented,
    "multimodal_phash_dedup": q_multimodal_phash_dedup,
    "multimodal_webp_anim_lossy": q_multimodal_webp_anim_lossy,
    "multimodal_exif_gps": q_multimodal_exif_gps,
    "multimodal_audio_fp_dedup": q_multimodal_audio_fp_dedup,
    "multimodal_phash_pooled": q_multimodal_phash_pooled,
    "multimodal_resize_box": q_multimodal_resize_box,
    "pdf_extract_text": q_pdf_extract_text,
    "robots_gate": q_robots_gate,
    "cdx_surt_index": q_cdx_surt_index,
    "multimodal_flac_tags": q_multimodal_flac_tags,
    "text_main_content": q_text_main_content,
    "webdataset_roundtrip": q_webdataset_roundtrip,
    "chat_template_spans": q_chat_template_spans,
    "multimodal_mp3_id3": q_multimodal_mp3_id3,
    "multimodal_ogg_tags": q_multimodal_ogg_tags,
    "sitemap_parse": q_sitemap_parse,
    "text_script_profile": q_text_script_profile,
    "subtitles_parse": q_subtitles_parse,
    "sim_maxsim_topk": q_sim_maxsim_topk,
    "zip_members": q_zip_members,
    "text_kneser_ney": q_text_kneser_ney,
    "text_ccnet_buckets": q_text_ccnet_buckets,
    "docx_extract_text": q_docx_extract_text,
    "epub_extract_text": q_epub_extract_text,
    "text_bleu_rouge": q_text_bleu_rouge,
    "text_blocklist": q_text_blocklist,
    "web_anchors": q_web_anchors,
    "sim_pca_power": q_sim_pca_power,
    "pack_bins_ffd": q_pack_bins_ffd,
    "multimodal_gif_anim": q_multimodal_gif_anim,
    "chat_tree_paths": q_chat_tree_paths,
    "sample_mixture_temperature": q_sample_mixture_temperature,
    "text_span_corruption": q_text_span_corruption,
    "frontier_build": q_frontier_build,
    "csv_sniff": q_csv_sniff,
    "sim_hard_negatives": q_sim_hard_negatives,
    "text_strip_markdown": q_text_strip_markdown,
    "text_scrub_invisibles": q_text_scrub_invisibles,
    "chat_lint": q_chat_lint,
    "sim_binary_hamming": q_sim_binary_hamming,
    "text_lang_script_check": q_text_lang_script_check,
    "text_repair_json": q_text_repair_json,
    "pref_pairs_build": q_pref_pairs_build,
    "rank_bradley_terry": q_rank_bradley_terry,
    "rss_parse": q_rss_parse,
    "json_key_profile": q_json_key_profile,
    "atom_parse": q_atom_parse,
    "bitext_length_gate": q_bitext_length_gate,
    "text_normalize_punct": q_text_normalize_punct,
    "label_cohen_kappa": q_label_cohen_kappa,
    "text_zipf_slope": q_text_zipf_slope,
    "text_fix_mojibake": q_text_fix_mojibake,
    "warc_parse": q_warc_parse,
    "warc_html_text": q_warc_html_text,
    "pipeline_warc_corpus": q_pipeline_warc_corpus,
    "multimodal_video_phash": q_multimodal_video_phash,
    "multimodal_vp8l_bundled_palette": q_multimodal_vp8l_bundled_palette,
    "multimodal_vp8_lf_delta": q_multimodal_vp8_lf_delta,
    "multimodal_vp8_normal_filter": q_multimodal_vp8_normal_filter,
    # --- r12-new lanes first (never driver-recorded) ---
    "multimodal_netpbm16": q_multimodal_netpbm16,
    "multimodal_bmp_palette": q_multimodal_bmp_palette,
    "multimodal_audio_g711": q_multimodal_audio_g711,
    "multimodal_audio_adpcm": q_multimodal_audio_adpcm,
    "snap_change_feed": q_snap_change_feed,
    "multimodal_vp8_lossy": q_multimodal_vp8_lossy,
    "stream_snap_cdf": q_stream_snap_cdf,
    "multimodal_audio_adpcm_stereo": q_multimodal_audio_adpcm_stereo,
    "multimodal_tiff_packbits": q_multimodal_tiff_packbits,
    "multimodal_tiff_lzw": q_multimodal_tiff_lzw,
    "multimodal_tiff_deflate": q_multimodal_tiff_deflate,
    "multimodal_audio_msadpcm": q_multimodal_audio_msadpcm,
    "multimodal_audio_au": q_multimodal_audio_au,
    "multimodal_audio_aiff": q_multimodal_audio_aiff,
    "text_dsir_weights": q_text_dsir_weights,
    "multimodal_avi_msrle": q_multimodal_avi_msrle,
    "text_dsir_resample": q_text_dsir_resample,
    "snap_delete_dv": q_snap_delete_dv,
    "multimodal_tga": q_multimodal_tga,
    # --- latest driver record: r4 ---
    "events_pivot": q_events_pivot,
    "events_json_props": q_events_json_props,
    "events_from_json": q_events_from_json,
    "dedup_exact_stats": q_dedup_exact_stats,
    # --- latest driver record: r5 ---
    "text_chunk": q_text_chunk,
    "stream_session": q_stream_session,
    "stream_tumbling": q_stream_tumbling,
    "stream_dedup": q_stream_dedup,
    "stream_join": q_stream_join,
    "stream_stateful": q_stream_stateful,
    "stream_ingest_idempotent": q_stream_ingest_idempotent,
    "events_tumbling": q_events_tumbling,
    "events_sliding": q_events_sliding,
    "events_session": q_events_session,
    "events_asof_join": q_events_asof_join,
    "w2_running_extrema": q_w2_running_extrema,
    "w3_lag_gap": q_w3_lag_gap,
    "shuffle_deterministic": q_shuffle_deterministic,
    "dedup_incremental": q_dedup_incremental,
    "events_asof_tolerance": q_events_asof_tolerance,
    "pack_efficiency": q_pack_efficiency,
    "s17_fixed_width": q_s17_fixed_width,
    "events_gap_fill": q_events_gap_fill,
    "events_retention": q_events_retention,
    "dedup_exact_keep": q_dedup_exact_keep,
    "p7_hash_sample": q_p7_hash_sample,
    "lake_upsert": q_lake_upsert,
    "profile_table": q_profile_table,
    "sample_stratified": q_sample_stratified,
    "multimodal_extract": q_multimodal_extract,
    # --- latest driver record: r6 ---
    "scd2_history": q_scd2_history,
    "table_diff": q_table_diff,
    "text_bm25": q_text_bm25,
    "events_transition": q_events_transition,
    "dedup_lsh_recall": q_dedup_lsh_recall,
    "multimodal_decode_jpeg": q_multimodal_decode_jpeg,
    "text_pii": q_text_pii,
    "pipeline_chunk_pack": q_pipeline_chunk_pack,
    "dedup_repeated_spans": q_dedup_repeated_spans,
    "multimodal_extract_arrow": q_multimodal_extract_arrow,
    "events_variant": q_events_variant,
    "s18_python_datasource": q_s18_python_datasource,
    "udtf_topk": q_udtf_topk,
    "a13_hll_sketch_rollup": q_a13_hll_sketch_rollup,
    "rollup_incremental": q_rollup_incremental,
    "multimodal_decode_avi": q_multimodal_decode_avi,
    "pipeline_corpus_build": q_pipeline_corpus_build,
    "events_anomaly": q_events_anomaly,
    "sim_int8_recall": q_sim_int8_recall,
    "sample_weighted": q_sample_weighted,
    "stream_rollup": q_stream_rollup,
    "text_stats": q_text_stats,
    "text_tokens": q_text_tokens,
    "text_ngram_topk": q_text_ngram_topk,
    "text_quality_by_source": q_text_quality_by_source,
    "text_fingerprint": q_text_fingerprint,
    "text_tfidf": q_text_tfidf,
    "text_scrub": q_text_scrub,
    "text_quality_filter": q_text_quality_filter,
    "text_zscore_pandas": q_text_zscore_pandas,
    "text_repetition": q_text_repetition,
    "sim_brute_topk": q_sim_brute_topk,
    "sim_pandas_topk": q_sim_pandas_topk,
    # --- latest driver record: r7 ---
    "events_attribution": q_events_attribution,
    "profile_histogram": q_profile_histogram,
    "j9_nullsafe_join": q_j9_nullsafe_join,
    "scd2_point_in_time": q_scd2_point_in_time,
    "scd2_incremental": q_scd2_incremental,
    "events_dwell": q_events_dwell,
    "stream_scd2": q_stream_scd2,
    "split_leakage_safe": q_split_leakage_safe,
    "text_word_entropy": q_text_word_entropy,
    "events_debounce": q_events_debounce,
    "sample_per_group": q_sample_per_group,
    "text_feature_hash": q_text_feature_hash,
    "pipeline_user_features": q_pipeline_user_features,
    "events_asof_cogroup": q_events_asof_cogroup,
    "w8_time_range_frame": q_w8_time_range_frame,
    "lake_upsert_latest": q_lake_upsert_latest,
    "text_bpe_merges": q_text_bpe_merges,
    "text_bigram_lm": q_text_bigram_lm,
    "stream_sliding": q_stream_sliding,
    "sql_tpch_q11": q_sql_tpch_q11,
    "sql_tpch_q15": q_sql_tpch_q15,
    "graph_pagerank": q_graph_pagerank,
    "obs_drift_psi": q_obs_drift_psi,
    # --- latest driver record: r8 ---
    "snap_meta_count": q_snap_meta_count,
    "text_quality_classifier": q_text_quality_classifier,
    "events_ewma": q_events_ewma,
    "pipeline_web_curation": q_pipeline_web_curation,
    "text_url_canonical": q_text_url_canonical,
    "multimodal_tiff_pixels": q_multimodal_tiff_pixels,
    "sim_mmr_rerank": q_sim_mmr_rerank,
    "text_html_clean": q_text_html_clean,
    "text_nfc_normalize": q_text_nfc_normalize,
    "text_gopher_gates": q_text_gopher_gates,
    "events_resample_ffill": q_events_resample_ffill,
    "events_rfm": q_events_rfm,
    "snap_schema_evolution": q_snap_schema_evolution,
    "text_collocations": q_text_collocations,
    "events_pattern_match": q_events_pattern_match,
    "snap_time_travel": q_snap_time_travel,
    "stream_snap_ingest": q_stream_snap_ingest,
    "s22_python_stream_source": q_s22_python_stream_source,
    "multimodal_image_dedup": q_multimodal_image_dedup,
    "multimodal_ppm_pixels": q_multimodal_ppm_pixels,
    "multimodal_gif_pixels": q_multimodal_gif_pixels,
    "text_perplexity": q_text_perplexity,
    "text_bpe_encode": q_text_bpe_encode,
    "text_bpe_byte_fallback": q_text_bpe_byte_fallback,
    "text_unigram_lm": q_text_unigram_lm,
    "text_wordpiece": q_text_wordpiece,
    "text_unigram_vocab": q_text_unigram_vocab,
    "obs_drift_ks": q_obs_drift_ks,
    "obs_expectations": q_obs_expectations,
    "graph_triangles": q_graph_triangles,
    "graph_link_predict": q_graph_link_predict,
    "a18_countmin_topk": q_a18_countmin_topk,
    # --- latest driver record: r10 ---
    "a19_loghist_quantiles": q_a19_loghist_quantiles,
    "stream_countmin": q_stream_countmin,
    "stream_loghist": q_stream_loghist,
    "stream_sliding_hll": q_stream_sliding_hll,
    "multimodal_pixel_stats": q_multimodal_pixel_stats,
    "multimodal_audio_pcm": q_multimodal_audio_pcm,
    "multimodal_audio_gates": q_multimodal_audio_gates,
    "multimodal_image_gates": q_multimodal_image_gates,
    "multimodal_decode_mp4": q_multimodal_decode_mp4,
    "multimodal_decode_mp3": q_multimodal_decode_mp3,
    "multimodal_decode_flac": q_multimodal_decode_flac,
    "multimodal_decode_ogg": q_multimodal_decode_ogg,
    "pipeline_corpus_card": q_pipeline_corpus_card,
    "multimodal_jpeg_sa": q_multimodal_jpeg_sa,
    "multimodal_flac_stereo": q_multimodal_flac_stereo,
    "multimodal_flac_lpc": q_multimodal_flac_lpc,
    "multimodal_jpeg_restart": q_multimodal_jpeg_restart,
    "multimodal_png_interlaced": q_multimodal_png_interlaced,
    "dedup_semantic": q_dedup_semantic,
    "sim_lsh_topk": q_sim_lsh_topk,
    "sim_lsh_recall": q_sim_lsh_recall,
    "sim_ivf_topk": q_sim_ivf_topk,
    "sim_ivf_recall": q_sim_ivf_recall,
    "sim_ivfpq_topk": q_sim_ivfpq_topk,
    "dedup_embedding": q_dedup_embedding,
    "dedup_near_keep": q_dedup_near_keep,
    "dedup_incremental_near": q_dedup_incremental_near,
    "text_lang_id": q_text_lang_id,
    "events_interval_join": q_events_interval_join,
    "multimodal_flac_pcm": q_multimodal_flac_pcm,
    "multimodal_flac_fixed": q_multimodal_flac_fixed,
    "multimodal_png_pixels": q_multimodal_png_pixels,
    "multimodal_jpeg_pixels": q_multimodal_jpeg_pixels,
    "multimodal_jpeg_color": q_multimodal_jpeg_color,
    "multimodal_jpeg_420": q_multimodal_jpeg_420,
    "multimodal_jpeg_progressive": q_multimodal_jpeg_progressive,
    "snap_range_skip": q_snap_range_skip,
    "snap_bloom_skip": q_snap_bloom_skip,
    "snap_zorder_skip": q_snap_zorder_skip,
    "snap_compact_zorder": q_snap_compact_zorder,
    "snap_partition_prune": q_snap_partition_prune,
    "snap_hidden_partition": q_snap_hidden_partition,
    "snap_apply_cdc": q_snap_apply_cdc,
    "snap_merge_upsert": q_snap_merge_upsert,
    "snap_delete_cow": q_snap_delete_cow,
    "snap_compact_cluster": q_snap_compact_cluster,
    "snap_compact_history": q_snap_compact_history,
    "s23_snap_change_stream": q_s23_snap_change_stream,
    "dedup_jaccard_pairs": q_dedup_jaccard_pairs,
    "dedup_levenshtein": q_dedup_levenshtein,
    # --- latest driver record: r11 ---
    "multimodal_jpeg_422": q_multimodal_jpeg_422,
    "multimodal_jpeg_prog420": q_multimodal_jpeg_prog420,
    "multimodal_avi_frames": q_multimodal_avi_frames,
    "multimodal_jpeg_sa420": q_multimodal_jpeg_sa420,
    "multimodal_webp_lossless": q_multimodal_webp_lossless,
    "multimodal_webp_cache": q_multimodal_webp_cache,
    "multimodal_png_palette": q_multimodal_png_palette,
    "multimodal_gif_interlaced": q_multimodal_gif_interlaced,
    "multimodal_png16": q_multimodal_png16,
    "events_funnel": q_events_funnel,
    "pack_windows": q_pack_windows,
    "lake_zorder_key": q_lake_zorder_key,
    "sample_mixture_plan": q_sample_mixture_plan,
    "p8_keep_latest": q_p8_keep_latest,
    "dedup_contamination": q_dedup_contamination,
    "dedup_simhash": q_dedup_simhash,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "multimodal_decode_wav": q_multimodal_decode_wav,
    "s11_lake_range_read": q_s11_lake_range_read,
    "skew_salted_agg": q_skew_salted_agg,
    # --- Spark-baseline controls: these 7 lanes call no package code.
    # They stay because bench.py times them directly (its BENCH_BASELINE
    # floors are keyed by them), giving the engine-only yardstick the
    # package lanes are read against; flagship_lake_nest is also the
    # entry() smoke query. ---
    "flagship_lake_nest": q_flagship_lake_nest,
    "a4_pricing_summary": q_a4_pricing_summary,
    "j3_broadcast_join_agg": q_j3_broadcast_join_agg,
    "w1_window_topk": q_w1_window_topk,
    "a2_two_level_nest": q_a2_two_level_nest,
    "sql_tpch_q9": q_sql_tpch_q9,
    "sql_tpch_q21": q_sql_tpch_q21,
}


ORACLE_SQL = _oracles()
