"""Compare two sets of saved results, per workload and metric.

    python3 perfbench/compare.py <dir-or-files A> -- <dir-or-files B>

Each side is one or more result files written by ``run.py`` (or
directories holding them). Prints, for every workload and metric,
bounded or not, each side's median and quartiles and the change of the
median. Results taken
at different ``cpus`` (``SPARK_GRAFT_CPUS``) are never compared: the
command refuses with exit code 2.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path


def load(args: list[str]) -> list[dict]:
    files: list[Path] = []
    for a in args:
        p = Path(a)
        files += sorted(p.glob("*.json")) if p.is_dir() else [p]
    return [json.loads(f.read_text()) for f in files]


def names(results: list[dict]) -> dict[str, str]:
    """Metric name → unit, the bounded metrics first, then the
    unbounded ones a run reports in its detail."""
    r = results[0]
    out = {m: v["unit"] for m, v in r["metrics"].items()}
    out.update({f"{m} (unbounded)": v["unit"] for m, v in r["detail"].get("unbounded", {}).items()})
    return out


def value(result: dict, name: str) -> float | None:
    if name.endswith(" (unbounded)"):
        m = result["detail"].get("unbounded", {}).get(name.removesuffix(" (unbounded)"))
    else:
        m = result["metrics"].get(name)
    return None if m is None else m["value"]


def summary(values: list[float]) -> str:
    if len(values) < 2:
        return f"{values[0]:.4g} (n=1)"
    q1, med, q3 = statistics.quantiles(values, n=4)
    return f"{statistics.median(values):.4g} [{q1:.4g}, {q3:.4g}] (n={len(values)})"


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    a, b = load(argv[:cut]), load(argv[cut + 1:])
    cpus = {r["fingerprint"]["cpus"] for r in a + b}
    if len(cpus) != 1:
        print(f"refused: results were taken at different cpus {sorted(map(str, cpus))}",
              file=sys.stderr)
        return 2
    (cpu,) = cpus
    keys = sorted({(r["workload"], r["trace"]) for r in a} & {(r["workload"], r["trace"]) for r in b})
    for workload, trace in keys:
        ra = [r for r in a if (r["workload"], r["trace"]) == (workload, trace)]
        rb = [r for r in b if (r["workload"], r["trace"]) == (workload, trace)]
        print(f"{workload} trace={trace} cpus={cpu}")
        for m, unit in names(ra).items():
            va = [v for r in ra if (v := value(r, m)) is not None]
            vb = [v for r in rb if (v := value(r, m)) is not None]
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            change = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
            print(f"  {m:<48} {unit:<6} A {summary(va)}  B {summary(vb)}  {change}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
