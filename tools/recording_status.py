"""Recording-rotation bookkeeping: for every registered contract
entry, the latest round whose driver recording (CORRECTNESS_r*.json)
covered it and whether that recording was green — the input to each
round's SPARK_QUERIES window ordering, as a script instead of
hand-counting.

Usage: python tools/recording_status.py
Prints one line per entry, stalest first, then a summary; entries
never recorded sort before everything (they outrank re-records in
the next window).
"""

from __future__ import annotations

import os
import sys

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)


def main() -> None:
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(_HERE, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    registered = list(mod.queries().keys())

    # rounds come oldest first, so the last write per lane is its latest
    latest = {name: (rnd, ok) for rnd, name, ok in mod._recordings()}

    rows = []
    for name in registered:
        rnd, ok = latest.get(name, (0, False))
        rows.append((rnd, name, ok))
    rows.sort()
    for rnd, name, ok in rows:
        status = "never-recorded" if rnd == 0 else (
            f"r{rnd} {'green' if ok else 'RED'}"
        )
        print(f"{name:36s} {status}")
    n_never = sum(1 for r, _, _ in rows if r == 0)
    n_red = sum(1 for r, _, ok in rows if r > 0 and not ok)
    stalest = min((r for r, _, _ in rows if r > 0), default=0)
    print(
        f"\n{len(rows)} entries | {n_never} never recorded | "
        f"{n_red} latest-red | stalest recording: r{stalest}"
    )


if __name__ == "__main__":
    main()
