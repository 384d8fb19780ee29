"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The generator and event-log reader tests need no Spark; the others run
the package on tiny generated corpora (a few minutes in all).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import e2e, eventlog, gen, harness, oracle, trace  # noqa: E402
from perfbench.gen import Shape  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

TINY = {
    "cohort_gz": Shape(samples=12, rows_per_sample=300, pool=400, buckets_per_chrom=2,
                       gzip=True),
    "private_skewed": Shape(samples=4, rows_per_sample=500, pool=None, buckets_per_chrom=2,
                            hot_frac=0.5, t2t=True, annot_factor=2.0),
}


def _tree(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("name", sorted(TINY))
def test_generator_is_deterministic(tmp_path, name):
    shape = TINY[name]
    for d in ("a", "b"):
        gen.write_annotations(tmp_path / d, shape)
        gen.write_samples(tmp_path / d / "vcf", shape, seed=7)
    a, b = _tree(tmp_path / "a"), _tree(tmp_path / "b")
    assert a and a == b
    gen.write_samples(tmp_path / "c", shape, seed=8)
    assert _tree(tmp_path / "c") != _tree(tmp_path / "a" / "vcf")


def test_generator_follows_fixture_conventions(tmp_path):
    gen.write_annotations(tmp_path / "t2t", TINY["private_skewed"])
    import pyarrow.parquet as pq

    dbsnp = sorted(p.name for p in (tmp_path / "t2t" / "dbsnp").iterdir())
    assert all(n.startswith("c") and "_m" in n and n.endswith(".parquet") for n in dbsnp)
    types = {str(pq.read_schema(tmp_path / "t2t" / "dbsnp" / n).field("CHROM").type) for n in dbsnp}
    assert types == {"int64", "string"}
    gnomad = sorted((tmp_path / "t2t" / "gnomad").iterdir())
    lacking = [p for p in gnomad if "hg38_coordinates" not in pq.read_schema(p).names]
    assert len(lacking) == 1
    gen.write_samples(tmp_path / "vcf", TINY["cohort_gz"], seed=1)
    import gzip

    text = "".join(gzip.decompress(p.read_bytes()).decode() for p in (tmp_path / "vcf").iterdir())
    assert "chr1_KI270706v1_random" in text and "\tNA\t" in text
    assert {p.name.split(".", 1)[1] for p in (tmp_path / "vcf").iterdir()} == {"vcf.gz"}


def test_eventlog_reader_attributes_tasks_to_descriptions(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "layer:a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.job.description": "layer:b"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 10**9,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Input Metrics": {"Bytes Read": 7, "Records Read": 2}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500, "Disk Bytes Spilled": 3}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 4000, "Output Metrics": {"Bytes Written": 9,
                                                           "Records Written": 1}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 1000, "Output Metrics": {"Bytes Written": 9,
                                                           "Records Written": 1}}},
    ]
    log = tmp_path / "app-1"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    table = eventlog.read(log)
    a, b = table["layer:a"], table["layer:b"]
    assert (a.tasks, a.run_s, a.cpu_s, a.shuffle_write_bytes, a.input_bytes) == (2, 2.0, 1.0, 100, 7)
    assert a.spill_bytes == 3  # stage 1 belongs to the first job that lists it
    assert (b.tasks, b.run_s, b.output_records, b.slowest_task_s) == (2, 5.0, 2, 4.0)
    assert b.write_skew() == 4.0 / 2.5


@pytest.fixture(scope="module")
def spark_env(tmp_path_factory):
    """Runs write under a temporary work area; no session outlives a test."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(harness, "WORK", tmp_path_factory.mktemp("work"))
        for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_WAREHOUSE"):
            mp.delenv(var, raising=False)
        harness.isolate()
        yield


def test_eventlog_reader_on_a_real_log(spark_env):
    logs = harness.WORK / "eventlog-test"
    spark, _ = harness.start(harness.spark_conf(event_log=logs))
    spark.sparkContext.setJobDescription("named job")
    spark.range(2_000_000, numPartitions=4).selectExpr("sum(id * id)").collect()
    spark.sparkContext.setJobDescription(None)
    harness.shutdown(spark)
    table = eventlog.read(eventlog.latest_log(logs))
    assert table["named job"].tasks >= 4
    assert table["named job"].run_s > 0


def test_tiny_corpus_through_cli_etl(spark_env):
    w = Workload("cohort_gz", TINY["cohort_gz"])
    c = harness.corpus(w, seed=3)
    assert c.exp["status"]["samples_num"] == TINY["cohort_gz"].samples
    assert c.exp["sample_rows"] == c.book["sample_rows"]
    spark, _ = harness.start(harness.spark_conf())
    out = harness.WORK / "tiny-out"
    ops = harness.Ops()
    assert harness.etl(ops, spark, c, out, "tiny cli etl") is not None
    assert (ops.attempted, ops.failed) == (1, 0)
    got = oracle.lake_summary(out / "lake")
    assert got["lake_rows"] == c.exp["lake_rows"] > 0
    assert got["entries"]["impact"] > 0 and got["entries"]["alphamissense"] > 0
    harness.shutdown(spark)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_smoke_workload(spark_env, name):
    w = Workload(name, TINY[name])
    metrics, ops, _ = e2e.run(w, seed=5, seconds=0)
    assert ops.attempted > 0 and ops.failed == 0
    assert all(v > 0 for v, _ in metrics.values())
    metrics, ops, _ = trace.run(w, seed=5, seconds=0)
    assert ops.failed == 0
    assert metrics["pipeline.get_status.rescan_frac"][0] == pytest.approx(1.0)
    collapse = metrics["operators.nest.samples.collapse_ratio"][0]
    assert collapse > 5 if name == "cohort_gz" else collapse < 1.5
