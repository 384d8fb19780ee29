"""Benchmark of the VCF → lake job (``cli etl``) and its lake reads.

    python3 perfbench/run.py --workload cohort_gz --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a traced run. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; a readable summary goes to
standard error, and the full result, with the box fingerprint, to
``.perfbench_work/results/``. The exit code is 0 only if every output
check passed. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def fingerprint() -> dict:
    """The box a result was taken on; ``cpus`` keys comparisons."""
    import pyspark

    fp = {
        "nproc": len(os.sched_getaffinity(0)),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg": list(os.getloadavg()),
    }
    return fp


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "geniepool_etl_spark" / "__init__.py").is_file():
        print("perfbench: no geniepool_etl_spark package in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    harness.isolate()
    load_before, cpu_before = list(os.getloadavg()), cpu_times()
    w = WORKLOADS[args.workload]
    if args.trace:
        from perfbench import trace

        metrics, ops, detail = trace.run(w, args.seed, args.seconds)
    else:
        from perfbench import e2e

        metrics, ops, detail = e2e.run(w, args.seed, args.seconds)

    detail["wall_s"] = time.perf_counter() - t_start
    fp = fingerprint()
    fp["loadavg_before"], fp["loadavg_after"] = load_before, fp.pop("loadavg")
    ticks = [b - a for a, b in zip(cpu_before, cpu_times())]
    fp["steal_frac"] = ticks[7] / max(1, sum(ticks))  # time the hypervisor gave elsewhere
    fp["java"], fp["master"] = detail.pop("java"), detail.pop("master")
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "fingerprint": fp, "detail": detail, **result,
    }
    results = harness.WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    (results / f"{w.name}-seed{args.seed}-trace{args.trace}-{stamp}.json").write_text(
        json.dumps(record, indent=1)
    )
    for k, (v, u) in metrics.items():
        print(f"{w.name} {k:<48} {v:>14.4f} {u}", file=sys.stderr)
    for k, m in detail.get("unbounded", {}).items():
        print(f"{w.name} {k:<48} {m['value']:>14.4f} {m['unit']} (unbounded)", file=sys.stderr)
    rest = {k: v for k, v in detail.items() if k != "unbounded"}
    print(f"{w.name} failed_ops_frac {ops.failed}/{ops.attempted}; {json.dumps(rest)}",
          file=sys.stderr)
    print(f"{w.name} box {json.dumps(fp)}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if ops.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
