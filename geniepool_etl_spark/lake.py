"""Range-bucketed Parquet lake: writer, reader, pruned range queries,
status log.

Physical layout (reference M:127-138; SURVEY.md §1.1): Hive-partitioned
parquet on ``(chrom, pos_bucket)``; files capped at
``MAX_RECORDS_PER_FILE`` rows; data ``repartition``-ed by the partition
columns before the write so each Hive partition is produced by one
task group (no small-file explosion at 1000 executors).

The serving-side contract is ``read_range``: a genomic point/range
query must touch only the partition directories its positions can live
in. Partition pruning on ``chrom`` is free; for ``pos`` ranges the
reader derives the covering ``pos_bucket`` ids arithmetically and adds
a ``pos_bucket IN (...)`` literal filter, which Spark prunes at file
listing time (SURVEY.md §4 "partition pruning").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geniepool_etl_spark.config import MAX_RECORDS_PER_FILE, PARTITION_SIZE


def write_datalake(df: DataFrame, output_path: str) -> None:
    """Partitioned lake write (reference M:127-138): overwrite
    ``output_path`` with ``df`` partitioned on ``(chrom, pos_bucket)``,
    at most ``MAX_RECORDS_PER_FILE`` rows per file."""
    (
        df.repartition(F.col("chrom"), F.col("pos_bucket"))
        .write.option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .mode("overwrite")
        .partitionBy("chrom", "pos_bucket")
        .parquet(output_path)
    )


def read_datalake(spark: SparkSession, lake_path: str) -> DataFrame:
    """Read the lake back (reference T:61/T:87/T:112)."""
    return spark.read.parquet(lake_path)


def buckets_for_range(
    pos_lo: int, pos_hi: int, partition_size: int = PARTITION_SIZE
) -> list[int]:
    """Bucket ids whose [lo, hi] position range intersects [pos_lo, pos_hi]."""
    if pos_hi < pos_lo:
        return []
    return list(range(pos_lo // partition_size, pos_hi // partition_size + 1))


def read_range(
    spark: SparkSession,
    lake_path: str,
    chrom: str,
    pos_lo: int,
    pos_hi: int,
    partition_size: int = PARTITION_SIZE,
    order_by_pos: bool = False,
) -> DataFrame:
    """Partition-pruned range query: all lake records for
    ``chrom ∈ [pos_lo, pos_hi]`` (the serving pattern of reference
    T:93-95 / T:118-122, with the bucket arithmetic the GeniePool
    serving layer performs done here).

    The emitted plan lists only ``chrom=<c>/pos_bucket=<b>``
    directories — verified by PartitionFilters in ``.explain``.
    ``order_by_pos`` adds the serving-side ``orderBy("pos")`` the
    reference's read-back queries apply (T:93-95); it stays opt-in
    because a global sort is an extra exchange the caller may not need.
    """
    buckets = buckets_for_range(pos_lo, pos_hi, partition_size)
    df = read_datalake(spark, lake_path)
    out = df.where(
        (F.col("chrom") == chrom)
        & F.col("pos_bucket").isin(buckets)
        & F.col("pos").between(pos_lo, pos_hi)
    )
    return out.orderBy("pos") if order_by_pos else out


def write_status(df: DataFrame, status_path: str) -> None:
    """Append the 1-row status record as JSON (reference M:155-157).

    ``coalesce(1)`` is safe here because the input is a single
    already-aggregated row; at production scale this would be an
    append-only metadata table instead (SURVEY.md §7.3).
    """
    df.coalesce(1).write.mode("append").json(status_path)


def read_status(spark: SparkSession, status_path: str) -> DataFrame:
    return spark.read.json(status_path)


def zorder_key(cols: list, bits: int = 16) -> "F.Column":
    """Morton-interleaved (Z-order) key over non-negative integer
    columns: bit b of column i lands at key bit ``b·len(cols)+i``.

    Sorting a write by this ONE key clusters the file layout in EVERY
    participating dimension at once, so min/max stats skip files for
    predicates on any of the columns (``snaptable.compact`` lays its
    files out this way). Pure shift/mask expressions: codegen'd,
    deterministic, reproducible in any engine.

    Callers must map each dimension to a non-negative int < 2^bits
    (e.g. ``col % 2**bits``, a day number, a bucketed float); with
    ``bits·len(cols) ≤ 63`` the key fits a long.
    """
    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"zorder key needs {bits * n} bits; max 63")
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key
