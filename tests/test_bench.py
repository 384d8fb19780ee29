"""bench.py's grading pass and stdout line (pure functions), and the
checkpoint release at the end of each lane."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

PREFIXES = ("", "sf1_", "sf10_")


def _timings(**by_prefix):
    return {p: dict(by_prefix.get(p.rstrip("_") or "headline", {})) for p in PREFIXES}


def _baseline(sf=0.1, cpus=4, **floors):
    out = {"sf": sf, "cpus": cpus}
    for p in PREFIXES:
        for field in (f"{p}best_sec", f"hist_{p}best_sec", f"{p}cold_best_sec"):
            out[field] = dict(floors.get(field, {}))
    return out


def test_floors_only_tighten():
    bl = _baseline(best_sec={"a": 1.0, "b": 1.0}, hist_best_sec={"a": 0.4, "b": 1.0},
                   cold_best_sec={"a": 2.0, "b": 2.0})
    warm = _timings(headline={"a": 0.5, "b": 1.2, "c": 0.3})
    cold = _timings(headline={"a": 3.0, "b": 1.5, "c": 0.9})
    graded, new = bench.grade(warm, cold, bl, 0.1, 4)
    assert new["best_sec"] == {"a": 0.5, "b": 1.0, "c": 0.3}
    assert new["hist_best_sec"] == {"a": 0.4, "b": 1.0, "c": 0.3}
    assert new["cold_best_sec"] == {"a": 2.0, "b": 1.5, "c": 0.9}
    assert (new["sf"], new["cpus"]) == (0.1, 4)
    assert graded["ratio_vs_best"] == {"a": 0.5, "b": 1.2}
    assert graded["regressions"] == {}


def test_no_improvement_saves_nothing():
    bl = _baseline(best_sec={"a": 1.0}, hist_best_sec={"a": 1.0}, cold_best_sec={"a": 1.0})
    graded, new = bench.grade(_timings(headline={"a": 1.1}), _timings(headline={"a": 1.1}),
                              bl, 0.1, 4)
    assert new is None
    assert graded["ratio_vs_best"] == {"a": 1.1}


def test_regression_lands_under_the_tier_prefix():
    bl = _baseline(best_sec={"a": 1.0}, sf1_best_sec={"a": 1.0, "b": 2.0})
    warm = _timings(headline={"a": 1.5}, sf1={"a": 1.6, "b": 2.0})
    graded, _ = bench.grade(warm, _timings(), bl, 0.1, 4)
    assert graded["regressions"] == {}  # 1.5 is the limit, not over it
    assert graded["sf1_regressions"] == {"a": 1.6}
    assert graded["sf1_ratio_vs_best"] == {"a": 1.6, "b": 1.0}
    assert graded["sf10_regressions"] == {}


def test_other_sf_or_cpus_is_neither_graded_nor_overwritten():
    bl = _baseline(best_sec={"a": 0.1}, sf1_best_sec={"a": 0.1})
    warm = _timings(headline={"a": 1.0}, sf1={"a": 1.0})
    for sf, cpus in ((1.0, 4), (0.1, 32)):
        graded, new = bench.grade(warm, _timings(headline={"a": 1.0}), bl, sf, cpus)
        assert new is None
        for p in PREFIXES:
            assert graded[f"{p}ratio_vs_best"] == {}
            assert graded[f"{p}regressions"] == {}


def test_baseline_without_cpus_is_another_box():
    bl = _baseline(best_sec={"a": 0.1})
    del bl["cpus"]
    graded, new = bench.grade(_timings(headline={"a": 1.0}), _timings(), bl, 0.1, 4)
    assert new is None and graded["ratio_vs_best"] == {}


def test_absent_file_saves_every_field():
    warm = _timings(headline={"a": 1.0}, sf10={"b": 9.0})
    cold = _timings(headline={"a": 2.0}, sf10={"b": 9.5})
    graded, new = bench.grade(warm, cold, {}, 0.1, 4)
    assert graded["ratio_vs_best"] == {} and graded["sf10_regressions"] == {}
    assert new == {
        "sf": 0.1, "cpus": 4,
        "best_sec": {"a": 1.0}, "hist_best_sec": {"a": 1.0}, "cold_best_sec": {"a": 2.0},
        "sf1_best_sec": {}, "hist_sf1_best_sec": {}, "sf1_cold_best_sec": {},
        "sf10_best_sec": {"b": 9.0}, "hist_sf10_best_sec": {"b": 9.0},
        "sf10_cold_best_sec": {"b": 9.5},
    }


def test_committed_baseline_is_keyed_by_sf_and_cpus():
    with open(bench.BASELINE_PATH) as fh:
        bl = json.load(fh)
    assert isinstance(bl["sf"], float) and isinstance(bl["cpus"], int)


def _line(pad: int) -> dict:
    return {
        "metric": "headline_queries_total" + "x" * pad, "value": 1.0, "unit": "sec",
        "queries": {f"lane_{i:02d}": 0.123 for i in range(50)},
        "sf": 0.1, "cpus": 4, "n_queries": 50, "n_errors": 0,
        "load": [0.5, 0.7],
        "control": {f"pre_sf{i}": 1.234 for i in range(8)},
    }


def _dumps(d: dict) -> str:
    return json.dumps(d, separators=(",", ":"))


def test_compact_line_drops_control_then_load_then_queries():
    order = ("control", "load", "queries")
    seen = set()
    for pad in range(1300):  # one char at a time across every threshold
        out = _line(pad)
        line = bench.compact_line(out)
        kept = json.loads(line)
        dropped = tuple(k for k in order if k not in kept)
        assert dropped == order[: len(dropped)]
        assert len(line) <= bench.STDOUT_BUDGET
        if dropped:  # the last drop was needed
            before = {k: v for k, v in out.items() if k not in dropped[:-1]}
            assert len(_dumps(before)) > bench.STDOUT_BUDGET
        else:
            assert kept == out
        assert kept["cpus"] == 4 and "control" in out
        seen.add(dropped)
    assert len(seen) == 4


def test_time_noop_releases_lane_checkpoints(spark):
    """A lane's lazy and eager local checkpoints are released when it ends:
    the persistent-RDD ids and storage memory return to their pre-lane state."""
    sc = spark.sparkContext
    memory = sc._jvm.org.apache.spark.SparkEnv.get().memoryManager()

    def build():
        lazy = spark.range(10**5).localCheckpoint(eager=False)
        eager = spark.range(10**5).selectExpr("id * 2 AS id").localCheckpoint()
        return lazy.union(eager)

    ids_before = set(sc._jsc.getPersistentRDDs().keys())
    used_before = memory.storageMemoryUsed()
    _, secs = bench.time_noop(spark, "release_probe", build, runs=2, warm=1)
    assert len(secs) == 2
    assert set(sc._jsc.getPersistentRDDs().keys()) == ids_before
    assert abs(memory.storageMemoryUsed() - used_before) < 1 << 20
