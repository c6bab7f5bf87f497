#!/usr/bin/env python3
"""Compare two kept results of run.py metric by metric.

    python3 perfbench/compare.py .perfbench_work/results/A.json .perfbench_work/results/B.json

Results taken at different core counts are never compared: raw
numbers from different boxes say nothing about the code.
"""

from __future__ import annotations

import json
import sys


def comparable(a: dict, b: dict) -> bool:
    """Stamps agree on nproc and SPARK_GRAFT_CPUS."""
    return a["nproc"] == b["nproc"] and a["spark_graft_cpus"] == b["spark_graft_cpus"]


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (_load(p) for p in argv)
    if not comparable(a["stamp"], b["stamp"]):
        print(
            f"refusing to compare: nproc/SPARK_GRAFT_CPUS "
            f"{a['stamp']['nproc']}/{a['stamp']['spark_graft_cpus']} vs "
            f"{b['stamp']['nproc']}/{b['stamp']['spark_graft_cpus']}",
            file=sys.stderr,
        )
        return 2
    for k in sorted(set(a["metrics"]) & set(b["metrics"])):
        x, y = a["metrics"][k], b["metrics"][k]
        ratio = f"{y / x:.3f}" if x else "-"
        print(f"{k:40s} {x:14.4f} {y:14.4f} {ratio:>8s}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
