"""End-to-end parity against the reference's own test fixtures and
golden assertions (SURVEY.md §5; reference T:23-46, T:48-69,
T:125-157).

These run our PySpark-native pipeline on the *actual VCF / Impact /
dbSNP / gnomAD fixtures shipped with the reference* (read-only) and
assert the reference's published expectations, including the golden
1622-row hg19 count (reference T:37).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from geniepool_etl_spark.lake import (
    read_datalake,
    read_range,
    read_status,
    write_datalake,
    write_status,
)
from geniepool_etl_spark.pipeline import convert_vcfs_to_datalake, get_status
from tests.conftest import REFERENCE_INPUT

# The fixtures are the reference implementation's own test resources;
# where that checkout is absent these tests cannot run.
pytestmark = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_INPUT),
    reason="reference test fixtures not present",
)

HG19_VCFS = f"{REFERENCE_INPUT}/*/hg19/"
HG19_IMPACT = f"{REFERENCE_INPUT}/*/Impact/impacts.hg19.csv"
HG19_DBSNP = f"{REFERENCE_INPUT}/dbSNP/dbSNP.hg19.tsv"
GNOMAD = f"{REFERENCE_INPUT}/gnomad/hg-38"


@pytest.fixture(scope="module")
def hg19_lake(spark, alpha_dir):
    df = convert_vcfs_to_datalake(
        spark, HG19_VCFS, HG19_IMPACT, HG19_DBSNP, False, GNOMAD, alpha_dir
    )
    df.cache()
    yield df
    df.unpersist()


def test_golden_row_count(hg19_lake):
    # Reference T:37: the hg19 fixture set produces exactly 1622 records.
    assert hg19_lake.count() == 1622


def test_impact_dedup_single_entry(hg19_lake):
    # Reference T:39-40: duplicate Impact rows across batches must not
    # fan out — one entry at chr1:11301714.
    sizes = (
        hg19_lake.where("chrom = 'chr1' and pos = 11301714")
        .select(F.size("entries").alias("n"))
        .collect()
    )
    assert [r.n for r in sizes] == [1]


def test_annotation_content_propagates(hg19_lake):
    # Reference T:42-44: the entries struct carries the impact text.
    row = (
        hg19_lake.where("chrom = 'chr1' and pos = 11301714")
        .select(F.col("entries").cast("string").alias("s"))
        .collect()[0]
    )
    assert "missense" in row.s


def test_alpha_score_selected(hg19_lake):
    # Our synthetic alpha fixture: at chr1:11301714 ref=A (A column 0),
    # alt=G → score 0.9 must be selected by the CASE.
    row = (
        hg19_lake.where("chrom = 'chr1' and pos = 11301714")
        .select(F.col("entries").getItem(0).getField("alphamissense").alias("a"))
        .collect()[0]
    )
    assert row.a == pytest.approx(0.9)


def test_lake_schema(hg19_lake):
    # SURVEY.md §1.4 output contract.
    assert [f.name for f in hg19_lake.schema.fields] == [
        "chrom",
        "pos_bucket",
        "pos",
        "entries",
    ]
    entry_type = hg19_lake.schema["entries"].dataType.elementType
    assert [f.name for f in entry_type.fields] == [
        "ref",
        "alt",
        "impact",
        "dbSNP",
        "gnomad_an",
        "gnomad_ac",
        "gnomad_nhomalt",
        "hg38_coordinate",
        "alphamissense",
        "hom",
        "het",
    ]


def test_write_read_roundtrip(spark, hg19_lake, tmp_path):
    # Reference T:63/T:89/T:114: write→read-back count round-trip.
    out = str(tmp_path / "lake")
    write_datalake(hg19_lake, out)
    assert read_datalake(spark, out).count() == hg19_lake.count()


def test_read_range_prunes_partitions(spark, hg19_lake, tmp_path):
    out = str(tmp_path / "lake")
    write_datalake(hg19_lake, out)

    expected = hg19_lake.where(
        "chrom = 'chr1' and pos between 11300000 and 11400000"
    ).count()
    got = read_range(spark, out, "chr1", 11300000, 11400000)
    assert got.count() == expected
    # the physical plan must contain partition filters on chrom+pos_bucket
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_canonicalized_lake_is_partitioning_invariant(spark, hg19_lake, alpha_dir):
    """The lake's arrays are sets (collect_set order is engine-
    internal); after canonicalize_entries the result must be VALUE-
    identical even when computed under a different shuffle
    partitioning — the property that makes local results transfer to
    any cluster layout."""
    from geniepool_etl_spark.operators.nest import canonicalize_entries

    def rowset(df):
        rows = canonicalize_entries(df).select(
            "chrom", "pos", F.col("entries").cast("string").alias("e")
        )
        return sorted((r.chrom, r.pos, r.e) for r in rows.collect())

    base = rowset(hg19_lake)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        other = convert_vcfs_to_datalake(
            spark, HG19_VCFS, HG19_IMPACT, HG19_DBSNP, False, GNOMAD, alpha_dir
        )
        assert rowset(other) == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_status_invariants(spark):
    # Reference T:134-136.
    status = get_status(spark, HG19_VCFS)
    rows = status.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.coordinates_num <= r.mutations_num
    assert r.update_date is not None
    assert r.samples_num == 3


def test_status_json_roundtrip(spark, tmp_path):
    # Reference T:139-157.
    out = str(tmp_path / "status")
    status = get_status(spark, HG19_VCFS)
    write_status(status, out)
    assert read_status(spark, out).count() == 1
    write_status(status, out)  # append mode
    assert read_status(spark, out).count() == 2
