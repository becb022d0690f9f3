"""Compare two sets of saved benchmark results.

    python3 perfbench/compare.py --base A.json [A2.json ...] --head B.json [...]

Each file is a record that perfbench/run.py saved under
``.bench_build/perfbench/results``. Results are grouped by workload; for
each metric the script prints both medians, their ratio and each side's
quartile spread. It refuses (exit code 2) to compare results whose configs
differ in anything but seed and commit: cpus, sf, driver memory, pyspark,
Python, run length, trace mode or benchmark sources.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def load(paths: list[str]) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    for p in paths:
        with open(p) as fh:
            rec = json.load(fh)
        by_workload.setdefault(rec["config"]["workload"], []).append(rec)
    return by_workload


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--head", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, head = load(args.base), load(args.head)
    for workload in sorted(set(base) & set(head)):
        try:
            rows = stats.compare(base[workload], head[workload])
        except stats.ConfigMismatch as ex:
            print(f"{workload}: {ex}", file=sys.stderr)
            return 2
        print(f"== {workload} ({len(base[workload])} base, {len(head[workload])} head)")
        for name, r in rows.items():
            ratio = "n/a" if r["ratio"] is None else f"{r['ratio']:.3f}"
            spread = lambda v: "n/a" if v is None else f"{v:.3f}"  # noqa: E731
            print(f"  {name:56s} {r['base_median']:12.4f} {r['head_median']:12.4f} "
                  f"{r['unit']:6s} ratio {ratio} spread {spread(r['base_spread'])}/"
                  f"{spread(r['head_spread'])}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
