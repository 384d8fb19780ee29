"""The paper's job end to end on generated data: ``cli etl`` over tiny
seeded corpora (perfbench's generator), checked against expectations
DuckDB computes from the raw files (perfbench's oracle) — lake rows,
the status row, per-annotation non-null counts, the lake digest, and
``lake.read_range`` row counts. Needs no reference snapshot.
"""

from __future__ import annotations

import json

import pytest

from geniepool_etl_spark import cli, lake
from geniepool_etl_spark.sources.annotations import read_impact
from perfbench import gen, oracle
from perfbench.tests.test_perfbench import TINY


@pytest.mark.parametrize("name", sorted(TINY))
def test_cli_etl_matches_oracle(spark, tmp_path, name):
    shape = TINY[name]
    annot, root, _ = gen.cached_corpus(tmp_path / "corpus", name, shape, 3)
    exp = oracle.expected(root / "vcf", annot, shape.t2t)
    out = tmp_path / "out"
    assert cli.main([
        "etl", str(root / "vcf"), str(out / "lake"), str(out / "status"),
        str(annot / "impact"), str(annot / "dbsnp"), str(shape.t2t).lower(),
        str(annot / "gnomad"), str(annot / "alpha"),
    ]) == 0

    status = [
        json.loads(line)
        for f in sorted((out / "status").glob("*.json"))
        for line in f.read_text().splitlines()
        if line.strip()
    ]
    assert oracle.check_lake(out / "lake", status, exp) == []
    for chrom, ps in sorted(exp["positions"].items())[:3]:
        for lo, hi in ((ps[0], ps[len(ps) // 2]), (ps[-1], ps[-1])):
            got = lake.read_range(spark, str(out / "lake"), chrom, lo, hi)
            assert got.count() == oracle.range_rows(exp, chrom, lo, hi) > 0

    # one impact row per key (reference T:39-40): the lake cannot show
    # it, because the nest's collect_set folds the duplicate join rows
    # that the generator's repeated stray-space keys would give
    con = oracle._connect()
    try:
        oracle._load_inputs(con, root / "vcf", annot, shape.t2t)
        (n_keys,) = con.execute("SELECT count(*) FROM impact").fetchone()
    finally:
        con.close()
    assert read_impact(spark, str(annot / "impact")).count() == n_keys
