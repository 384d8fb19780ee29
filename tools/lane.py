"""Time, plan or profile single bench or contract lanes, in isolation.

Usage:
    python tools/lane.py time    [options] [--warm W] [--runs N] lane [lane ...]
    python tools/lane.py plan    [options] lane [lane ...]
    python tools/lane.py profile [options] [--warm W] [--runs N] lane [lane ...]

Options:
    --tier T    sf0.1 (default): bench.py's headline lanes; sf1 / sf10: its
                staged tiers (staged on first use); contract: the
                __spark_entry__ registry
    --sf DIR    base testdata directory (sets SPARK_GRAFT_SF_DIR)
    --root DIR  the checkout whose bench.py and package are imported
                (default: this one)

Every command builds each lane once through bench.py's ``time_noop``.

- ``time`` (default --warm 2 --runs 3): untimed warm-up runs, then timed
  noop-sink runs; prints one JSON line of per-run seconds. Comparable only
  to other ``time`` runs on the same box. An A/B of two commits is
  ``time --root A`` and ``time --root B``, run alternately (A B A B) so
  slow drift of the box cancels out.
- ``plan``: prints each lane's formatted physical plan.
- ``profile`` (default --warm 0 --runs 2): runs with an uncompressed Spark
  event log (the UI stays off) and prints, per job description (build,
  warm i, run i), task seconds, shuffle bytes and spill, read with
  ``perfbench.eventlog``.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import tempfile
from pathlib import Path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIERS = ("sf0.1", "sf1", "sf10", "contract")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for cmd, warm, runs in (("time", 2, 3), ("plan", None, None), ("profile", 0, 2)):
        p = sub.add_parser(cmd)
        p.add_argument("--tier", choices=TIERS, default="sf0.1")
        p.add_argument("--sf", help="base testdata directory")
        p.add_argument("--root", default=ROOT, help="checkout to import")
        if warm is not None:
            p.add_argument("--warm", type=int, default=warm)
            p.add_argument("--runs", type=int, default=runs)
        p.add_argument("lane", nargs="+")
    return ap.parse_args(argv)


def _lanes(bench, spark, tier: str) -> dict:
    if tier == "contract":
        import __spark_entry__

        return {
            k: functools.partial(f, spark, bench.SF_DIR)
            for k, f in __spark_entry__.queries().items()
        }
    t = next(t for t in bench.TIERS if t.name == tier)
    if t.stage:
        t.stage(spark)
    return t.lanes(spark)


def _profile(log_dir: str, lanes: list[str], walls: dict, warm: int) -> None:
    from perfbench import eventlog

    table = eventlog.read(eventlog.latest_log(Path(log_dir)))
    print(f"{'job description':<40} {'wall_s':>7} {'task_s':>8} {'cpu_s':>8} {'tasks':>6} "
          f"{'shuffle_rd_B':>13} {'shuffle_wr_B':>13} {'spill_B':>11}")
    for lane in lanes:
        steps = [("build", "-")] + [(f"warm {i}", "-") for i in range(warm)]
        steps += [(f"run {i}", f"{s:.3f}") for i, s in enumerate(walls[lane])]
        for step, wall in steps:
            m = table.get(f"{lane} {step}", eventlog.JobMetrics())
            print(f"{lane + ' ' + step:<40} {wall:>7} {m.run_s:>8.2f} {m.cpu_s:>8.2f} "
                  f"{m.tasks:>6} {m.shuffle_read_bytes:>13} {m.shuffle_write_bytes:>13} "
                  f"{m.spill_bytes:>11}")


def main(argv=None) -> int:
    args = _args(argv)
    if args.sf:
        os.environ["SPARK_GRAFT_SF_DIR"] = os.path.abspath(args.sf)
    root = os.path.abspath(args.root)
    sys.path[:0] = [root, ROOT]  # bench.py and package from root; perfbench fallback
    import bench

    conf, log_dir = {}, None
    if args.cmd == "profile":
        log_dir = tempfile.mkdtemp(prefix="lane_eventlog_")
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(log_dir).as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = bench.session(f"lane-{args.cmd}", conf)
    qs = _lanes(bench, spark, args.tier)
    missing = [n for n in args.lane if n not in qs]
    if missing:
        print(json.dumps({"error": f"unknown {args.tier} lanes: {missing}"}))
        spark.stop()
        return 2

    walls = {}
    for lane in args.lane:
        if args.cmd == "plan":
            print(f"== {lane} ==", flush=True)
            qs[lane]().explain(mode="formatted")
            continue
        _, secs = bench.time_noop(spark, lane, qs[lane], args.runs, args.warm)
        walls[lane] = [round(s, 3) for s in secs]
    spark.stop()  # flushes and closes the event log
    if args.cmd == "time":
        print(json.dumps({
            "root": root, "tier": args.tier, "sf": bench.SF_DIR, "warm": args.warm,
            "runs": walls, "best": {k: min(v) for k, v in walls.items()},
        }))
    elif args.cmd == "profile":
        _profile(log_dir, args.lane, walls, args.warm)
    return 0


if __name__ == "__main__":
    sys.exit(main())
