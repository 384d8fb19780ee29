"""One-command end-of-round battery: the full driver-gate replica.

Runs, in order: full oracle selfcheck at sf0.001 and sf0.01, the
vanilla-ANSI sweep, pytest (tests/, then perfbench/tests), and bench —
each as a subprocess so one failure cannot poison the next session — and
prints a single PASS/FAIL line per stage plus a final verdict. Exit code
0 iff everything is green. To time, plan or profile single lanes, use
tools/lane.py.

Usage: python tools/preflight.py [--skip-bench] [--skip-pytest]
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(label: str, cmd: list[str], ok_pattern: str) -> bool:
    t0 = time.time()
    proc = subprocess.run(
        cmd, cwd=_HERE, capture_output=True, text=True
    )
    out = proc.stdout + proc.stderr
    tail = "\n".join(out.strip().splitlines()[-3:])
    ok = proc.returncode == 0 and re.search(ok_pattern, out) is not None
    status = "PASS" if ok else "FAIL"
    print(f"{status}  {label}  ({time.time() - t0:.0f}s)", flush=True)
    if not ok:
        print(f"      exit={proc.returncode}; tail:\n{tail}")
    return ok


def _lint() -> bool:
    """Fast consistency gate before the heavy stages: every contract
    entry has an oracle, and the COVERAGE.md totals line matches the
    registered entry count (a stale doc total misleads the judge)."""
    import importlib.util

    t0 = time.time()
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(_HERE, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    n_q, n_o = len(mod.queries()), len(mod.oracle_sql())
    problems = []
    if n_q != n_o:
        problems.append(f"{n_q} queries but {n_o} oracles")
    with open(os.path.join(_HERE, "COVERAGE.md")) as fh:
        m = re.search(r"Totals: (\d+) contract entries", fh.read())
    if not m or int(m.group(1)) != n_q:
        problems.append(
            f"COVERAGE.md totals say {m.group(1) if m else '???'}, "
            f"contract has {n_q}"
        )
    ok = not problems
    print(
        f"{'PASS' if ok else 'FAIL'}  lint ({n_q} entries)  "
        f"({time.time() - t0:.0f}s)",
        flush=True,
    )
    for p in problems:
        print(f"      {p}")
    return ok


def main() -> int:
    skip_bench = "--skip-bench" in sys.argv
    skip_pytest = "--skip-pytest" in sys.argv
    py = sys.executable
    lint_ok = _lint()
    stages = [
        (
            "selfcheck sf0.001",
            [py, "tools/selfcheck.py", "/root/testdata/sf0.001"],
            r"\b(\d+) ok, 0 fail, 0 no-oracle",
        ),
        (
            "selfcheck sf0.01",
            [py, "tools/selfcheck.py", "/root/testdata/sf0.01"],
            r"\b(\d+) ok, 0 fail, 0 no-oracle",
        ),
        (
            "ansi_sweep",
            [py, "tools/ansi_sweep.py"],
            r"\b(\d+) ok, 0 fail",
        ),
    ]
    if not skip_pytest:
        # two processes: perfbench's tests start sessions with their own
        # static confs (event log), which a shared session would not have
        for suite in ("tests/", "perfbench/tests"):
            stages.append(
                (f"pytest {suite}", [py, "-m", "pytest", suite, "-q"], r"\b\d+ passed")
            )
    if not skip_bench:
        stages.append(
            (
                "bench",
                [py, "bench.py"],
                r'"n_errors":0',
            )
        )
    results = [lint_ok] + [
        _run(label, cmd, pat) for label, cmd, pat in stages
    ]
    verdict = "ALL GREEN" if all(results) else "FAILURES PRESENT"
    print(verdict)
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
